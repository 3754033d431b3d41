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

The two ingest sinks keep durable state instead of StateStore state:
:func:`stream_ingest_dedup` (exact) and :func:`stream_ingest_neardup`
(MinHash LSH) dedup against their own output table, and the near-dup
sink also stores the corpus band index under the query's checkpoint
directory (``corpus_index/``).
"""

from __future__ import annotations

import hashlib
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rick_and_morty_data_pipeline_project_spark.functions.textfns import (
    fingerprint_col,
)

# Folded into the key of every application-scoped corpus index: in local
# mode an application id is only a start-time stamp.
_PROCESS = uuid.uuid4().hex


def _fs(sess, path: str):
    """(Hadoop FileSystem, Path) of ``path``, on the driver."""
    hpath = sess.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(sess.sparkContext._jsc.hadoopConfiguration()), hpath


def _output_exists(sess, out_dir: str) -> bool:
    """True iff the append target already holds data.  An explicit
    existence probe, NOT a try/except around the read: a bare except
    would also swallow transient FS errors / corrupt footers on later
    batches and silently shrink the dedup state to corpus-only —
    readmitting duplicates instead of failing the batch."""
    fs, hpath = _fs(sess, out_dir)
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


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _runs_user_code(sess, plan) -> bool:
    """True iff an expression of ``plan`` computes what the plan's text
    does not pin down: a user-defined function (its code can change
    between processes), a subquery (its plan is not among the leaves) or
    a nondeterministic expression."""
    jvm = sess.sparkContext._jvm
    kinds = [
        jvm.org.apache.spark.util.Utils.classForName(
            f"org.apache.spark.sql.catalyst.expressions.{name}", True, False
        )
        for name in ("UserDefinedExpression", "SubqueryExpression")
    ]
    nodes, exprs = [plan], []
    while nodes:
        node = nodes.pop()
        nodes.extend(_seq(node.children()))
        exprs.extend(_seq(node.expressions()))
    while exprs:
        e = exprs.pop()
        if not e.deterministic() or any(k.isInstance(e) for k in kinds):
            return True
        exprs.extend(_seq(e.children()))
    return False


def _corpus_key(corpus: DataFrame, *params) -> str:
    """The name of ``corpus``'s band index under ``params``, read off
    its analyzed plan on the driver (no Spark job).

    A purely file-backed corpus (every leaf a file relation, no UDF,
    subquery or nondeterministic expression) is keyed by its canonical
    plan, its schema and each input file's path, length and
    modification time, read through the Hadoop FS: the key survives a
    restart, and a rewritten file changes it.  Any other corpus (Python
    rows, a local relation, a UDF) has no such content identity; its key
    adds each leaf's own identity (RDD id, local rows), the application
    id and a per-process nonce, so its index serves one application
    only.  Not ``semanticHash``: that is 32 bits, and an RDD's is
    identity-based, so it can collide with an index of another process.
    """
    sess = corpus.sparkSession
    plan = corpus._jdf.queryExecution().analyzed()
    parts = [plan.canonicalized().toString(), corpus.schema.json(), repr(params)]
    durable = not _runs_user_code(sess, plan)
    for leaf in _seq(plan.collectLeaves()):
        name = leaf.nodeName()
        if name == "LogicalRelation" and (
            leaf.relation().getClass().getSimpleName() == "HadoopFsRelation"
        ):
            continue
        durable = False
        if name == "LogicalRDD":
            parts.append(f"rdd {leaf.rdd().id()}")
        elif name == "LocalRelation":
            parts.append(leaf.data().toString())
        else:
            parts.append(leaf.toString())
    for f in sorted(corpus.inputFiles()):
        fs, hpath = _fs(sess, f)
        st = fs.getFileStatus(hpath)
        parts.append(f"{f} {st.getLen()} {st.getModificationTime()}")
    if not durable:
        parts += [sess.sparkContext.applicationId, _PROCESS]
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:32]


def _corpus_index(sess, corpus_bands: DataFrame, index_dir: str) -> DataFrame:
    """The corpus band index: ``corpus_bands`` (``(id, sig, band)``
    rows) stored as parquet in ``index_dir`` and read with their
    declared schema.  A directory without its ``_SUCCESS`` marker (a
    build that died midway) is rebuilt, never read; building an index
    deletes every other directory next to it."""
    fs, marker = _fs(sess, f"{index_dir}/_SUCCESS")
    if not fs.exists(marker):
        corpus_bands.write.mode("overwrite").parquet(index_dir)
        fs.createNewFile(marker)  # where the session writes no marker
        index = marker.getParent()
        for st in fs.listStatus(index.getParent()):
            if st.getPath().getName() != index.getName():
                fs.delete(st.getPath(), True)
    return sess.read.schema(corpus_bands.schema).parquet(index_dir)


def _banded_matches(
    batch: DataFrame,
    seen_bands: DataFrame,
    id_col: str,
    num_hashes: int,
    band_size: int,
    threshold: float,
) -> DataFrame:
    """``(id_a, id_b, _seen, _drop)``: the similar pairs of one banded
    join of the ``batch`` rows' bands against (batch bands ∪
    ``seen_bands``).  Both candidate kinds come from it: batch × seen
    pairs (``_seen``, any ids) and batch × batch pairs, the latter in
    both directions, so that every batch row a sees all its partners in
    its own ``id_a`` partition: ``_drop`` marks a as having a seen
    partner."""
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        lsh_bands,
        signature_jaccard,
    )

    a = lsh_bands(batch.select(id_col, "sig"), num_hashes, band_size).withColumn(
        "_seen", F.lit(False)
    )
    b = a.unionByName(seen_bands.withColumn("_seen", F.lit(True)))
    return (
        a.alias("a")
        .join(b.alias("b").hint("shuffle_hash"), on="band")
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
    )


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
       seen bands), seen = the corpus band index PLUS the bands of
       everything previous batches appended, each row tagged with its
       side; pairs at ``jaccard_est ≥ threshold`` are checkpointed
       once.  Batch rows with a seen partner are near-dups of
       already-kept documents and drop;
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
    replay appends nothing.

    The corpus is hashed and banded once, not per batch: the first
    batch that finds no index writes ``lsh_bands(minhash_signatures(
    corpus))`` as parquet under ``checkpoint_dir/corpus_index/``, and
    every later batch, and every later query on the same checkpoint,
    reads it with a declared schema.  The corpus is therefore frozen at
    index-build time; the index's key, taken when the query starts,
    decides whether an index is still that corpus.  A file-backed
    corpus is keyed by its plan and its files' paths, lengths and
    modification times, so a rewritten corpus is detected and rebuilds
    the index, and an unchanged one is reused across restarts.  Any
    other corpus (Python rows, a local relation, a UDF) is keyed to
    the running application: it is re-indexed once per application and
    its index is never read by another process.  Cost per batch:
    MinHashing is O(|batch|), the band join scans
    O(|batch| + |corpus| + |kept|) stored band rows, and the pairs it
    emits scale with |batch| × band-collision rate.

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
        with_minhash_signature,
    )

    corpus_bands = lsh_bands(
        minhash_signatures(corpus, id_col, text_col, num_hashes, shingle_k),
        num_hashes,
        band_size,
    )
    key = _corpus_key(corpus, id_col, text_col, num_hashes, band_size, shingle_k)
    index_dir = f"{checkpoint_dir.rstrip('/')}/corpus_index/{key}"

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        query_id = sess.sparkContext.getLocalProperty("sql.streaming.queryId")
        tag = f"{query_id}:{batch_id}"
        batch = with_minhash_signature(
            batch_df, text_col, num_hashes, shingle_k
        ).localCheckpoint()  # hashed once, consumed 3×
        seen = _corpus_index(sess, corpus_bands, index_dir)
        written = None  # ids a replay's first attempt already appended
        if _output_exists(sess, out_dir):
            state = _kept_state(sess, out_dir, batch.schema[id_col])
            own = F.col("ingest_batch") == tag
            seen = seen.unionByName(
                lsh_bands(
                    state.filter(~own).select(id_col, "sig"),
                    num_hashes,
                    band_size,
                )
            )
            written = state.filter(own).select(id_col)

        matches = _banded_matches(
            batch, seen, id_col, num_hashes, band_size, threshold
        ).localCheckpoint()
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
