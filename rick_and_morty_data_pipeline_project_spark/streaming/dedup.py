"""Streaming deduplication — the §2.10 exact-dedup operator as an
incremental (§2.8) pipeline stage.

A training-data ingest stream dedups as it lands, not in a nightly
batch.  ``dropDuplicatesWithinWatermark`` keys the StateStore on the
content fingerprint and evicts an entry once the watermark passes it,
so state is bounded by (dup-arrival window × ingest rate) instead of
growing with the whole corpus — the only shape that survives an
unbounded stream (plain ``dropDuplicates`` on a stream retains every
key forever).  At scale the state store shards by the same fingerprint
hash the batch dedup shuffles on; no extra shuffle is introduced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rick_and_morty_data_pipeline_project_spark.functions.textfns import (
    fingerprint_col,
)


def _output_exists(sess, out_dir: str) -> bool:
    """True iff the append target already holds data.  An explicit
    existence probe, NOT a try/except around the read: a bare except
    would also swallow transient FS errors / corrupt footers on later
    batches and silently shrink the dedup state to corpus-only —
    readmitting duplicates instead of failing the batch."""
    jvm = sess.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(out_dir)
    fs = hpath.getFileSystem(sess.sparkContext._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def stream_dedup_exact(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Keep the first-seen document per content fingerprint.

    Input is a streaming DataFrame carrying ``text_col`` and an
    event-time ``ts_col``; output carries the original columns plus
    ``fingerprint``.  Duplicates arriving within ``watermark`` of the
    keeper are dropped; a duplicate arriving later than the watermark
    bound may pass (that is the documented state/recall trade —
    lengthen the watermark to widen the dedup window at the cost of
    state).
    """
    fp = stream.withColumn("fingerprint", fingerprint_col(F.col(text_col)))
    return fp.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["fingerprint"]
    )


def stream_ingest_dedup(
    stream: DataFrame,
    corpus: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    bloom_m_log2: int | None = None,
):
    """Streaming corpus INGEST with full-history dedup: every
    micro-batch of arriving documents is deduped in-batch (lowest id per
    fingerprint wins), anti-joined against the already-curated corpus
    AND against everything previous batches appended, then appended to
    ``out_dir``.  Unlike ``stream_dedup_exact`` (state bounded by a
    watermark, may re-admit late dups), this gives exact corpus-lifetime
    dedup by using the output table itself as the dedup state —
    the durable-storage shape of production ingest, with zero StateStore
    footprint.

    ``foreachBatch`` bodies run sequentially per micro-batch, so the
    read-output/append cycle has no write race.  Scale: the anti-join
    shuffles fingerprints only (the corpus side projects to one column);
    at 100 TB the output is a table bucketed by fingerprint so each
    ingest join is exchange-free on the corpus side.  Pass
    ``bloom_m_log2`` to route each batch through the k-hash Bloom
    pre-filter (operators/dedup.incremental_dedup_bloom, auto layout:
    literal / broadcast-relation / sharded word-join by m) so
    definitely-new rows skip the exact join entirely — provably the
    same survivors (the operator's anti-join-equivalence contract,
    re-asserted streaming-vs-plain in tests/test_streaming.py).

    Returns the started StreamingQuery (availableNow trigger); caller
    awaits termination.
    """
    corpus_fp = corpus.select(
        fingerprint_col(F.col(text_col)).alias("fp")
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
            incremental_dedup_bloom,
        )

        sess = batch_df.sparkSession
        fp = batch_df.withColumn("fp", fingerprint_col(F.col(text_col)))
        w = Window.partitionBy("fp").orderBy(F.asc(id_col))
        first = (
            fp.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        seen = corpus_fp
        if _output_exists(sess, out_dir):
            seen = seen.unionByName(
                sess.read.schema("fp STRING").parquet(out_dir)
            )
        if bloom_m_log2 is not None:
            new_rows = incremental_dedup_bloom(
                first, seen, "fp", m_log2=bloom_m_log2
            )
        else:
            new_rows = first.join(seen, "fp", "left_anti")
        new_rows.write.mode("append").parquet(out_dir)

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _kept_state(sess, out_dir: str, id_field) -> DataFrame:
    """The near-dup sink's state, ``(id, sig, ingest_batch)`` of every
    kept row, read with a declared schema (no inference job).  A kept
    table without those columns raises instead: read with the declared
    schema it would yield null signatures, which match nothing, and
    silently let duplicates in.  The check reads the parquet footer on
    the driver (no Spark job); where pyarrow cannot open the path it
    falls back to Spark's schema inference."""
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    from rick_and_morty_data_pipeline_project_spark.sources.corpus import (
        parquet_footer,
    )

    footer = parquet_footer(out_dir)
    names = (
        footer.names if footer is not None
        else sess.read.parquet(out_dir).columns
    )
    for col in ("sig", "ingest_batch"):
        if col not in names:
            raise ValueError(
                f"kept table {out_dir} has no '{col}' column: it was not "
                "written by this near-dup sink (tables written before the "
                "sink stored its state lack it); re-ingest it into a new "
                "output directory"
            )
    schema = StructType(
        [
            id_field,
            StructField("sig", ArrayType(StringType())),
            StructField("ingest_batch", StringType()),
        ]
    )
    return sess.read.schema(schema).parquet(out_dir)


def stream_ingest_neardup(
    stream: DataFrame,
    corpus: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_k: int = 3,
    threshold: float = 0.5,
):
    """Streaming corpus ingest with NEAR-duplicate suppression — the
    §2.10 MinHash-LSH near-dedup operator as an incremental (§2.8)
    pipeline stage, completing the exact/near pair that
    :func:`stream_ingest_dedup` starts.

    Per micro-batch:

    1. the batch rows get their MinHash ``sig`` once, and that relation
       is checkpointed;
    2. ONE banded LSH join of the batch bands against (batch bands ∪
       seen bands), seen = the curated corpus PLUS everything previous
       batches appended, each row tagged with its side; pairs at
       ``jaccard_est ≥ threshold`` are checkpointed once.  Batch rows
       with a seen partner are near-dups of already-kept documents and
       drop;
    3. the in-batch pairs whose endpoints both survive step 2 →
       connected components → keep the MIN-ID representative per
       cluster (the connected-components min-label policy, transitive
       within the batch; note the batch curation pipeline ranks its
       cluster representatives by quality score instead — an
       incremental stream cannot re-rank against documents it has
       already durably kept, so the simpler first/lowest-id policy is
       the honest streaming semantics).

    State is the durable output table itself (zero StateStore
    footprint), exactly like the exact-ingest twin keeps ``fp`` there:
    kept rows carry their ``sig``, and each batch reads the state back
    with a declared schema, so kept text is never re-hashed.  Kept rows
    also carry ``ingest_batch``,
    ``"{query id}:{batch id}"`` (the query id persists across restarts
    from one checkpoint).  A batch leaves the rows tagged with its own
    ``ingest_batch`` out of its seen state, so a replayed batch (the
    sink appended, the commit log did not record it) sees the state
    its first attempt saw and computes the same kept set; rows the
    first attempt already appended are then anti-joined away, so the
    replay appends nothing.  Cost per batch: MinHashing is
    O(|batch| + |corpus|) — the corpus is the caller's DataFrame and is
    re-hashed every batch — and the band join scans
    O(|batch| + |corpus| + |kept|) band rows, while the pairs it emits
    scale with |batch| × band-collision rate.  Storing the corpus
    signatures bucketed by band would take the corpus hashing and its
    band shuffle off the per-batch path; this sink does not do that.

    Keeper policy note: a batch row suppressed by a corpus partner is
    dropped even if it would also have claimed in-batch followers —
    those followers are then compared transitively via their own
    corpus/batch candidates, matching the batch pipeline's
    components-then-representative semantics batch-locally (cross-batch
    transitivity through a DROPPED row is not tracked; that is the
    incremental recall trade, same as exact ingest's watermark trade).

    Returns the started StreamingQuery (availableNow trigger); caller
    awaits termination.
    """
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        connected_components,
        lsh_bands,
        minhash_signatures,
        signature_jaccard,
        with_minhash_signature,
    )

    corpus_sig = minhash_signatures(
        corpus, id_col, text_col, num_hashes, shingle_k
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        query_id = sess.sparkContext.getLocalProperty("sql.streaming.queryId")
        tag = f"{query_id}:{batch_id}"
        batch = with_minhash_signature(
            batch_df, text_col, num_hashes, shingle_k
        ).localCheckpoint()  # hashed once, consumed 3×
        seen = corpus_sig
        written = None  # ids a replay's first attempt already appended
        if _output_exists(sess, out_dir):
            state = _kept_state(sess, out_dir, batch.schema[id_col])
            own = F.col("ingest_batch") == tag
            seen = seen.unionByName(state.filter(~own).select(id_col, "sig"))
            written = state.filter(own).select(id_col)

        def bands(sigs: DataFrame, is_seen: bool) -> DataFrame:
            return lsh_bands(
                sigs.select(id_col, "sig"), num_hashes, band_size
            ).withColumn("_seen", F.lit(is_seen))

        # One join finds both candidate kinds: batch × seen pairs (any
        # ids) and batch × batch pairs, the latter in both directions,
        # so that every batch row a sees all its partners in its own
        # id_a partition: _drop marks a as having a corpus/kept partner.
        batch_bands = bands(batch, False)
        a = batch_bands.alias("a")
        b = batch_bands.unionByName(bands(seen, True)).alias("b")
        matches = (
            a.join(b.hint("shuffle_hash"), on="band")
            .filter(
                F.col("b._seen")
                | (F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
            )
            .filter(
                signature_jaccard(
                    F.col("a.sig"), F.col("b.sig"), num_hashes
                ) >= threshold
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.col("b._seen").alias("_seen"),
            )
            .withColumn("_drop", F.max("_seen").over(Window.partitionBy("id_a")))
            .distinct()
            .localCheckpoint()
        )
        dropped = matches.filter("_seen").select(F.col("id_a").alias(id_col))
        # An in-batch edge stands when neither end is dropped, i.e. when
        # both of its directions survive the _drop filter.
        edges = (
            matches.filter(~F.col("_drop"))
            .groupBy(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
            )
            .count()
            .filter(F.col("count") == 2)
        )
        losers = (
            connected_components(edges, "id_a", "id_b")
            .filter(F.col("node") != F.col("cluster_id"))
            .select(F.col("node").alias(id_col))
        )
        excluded = dropped.unionByName(losers)
        if written is not None:
            excluded = excluded.unionByName(written)
        kept = batch.join(excluded, id_col, "left_anti").withColumn(
            "ingest_batch", F.lit(tag)
        )
        kept.write.mode("append").parquet(out_dir)

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
