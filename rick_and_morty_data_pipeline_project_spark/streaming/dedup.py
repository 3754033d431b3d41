"""Streaming near-duplicate ingest — the §2.10 MinHash-LSH dedup
operator as an incremental (§2.8) pipeline stage.

:func:`stream_ingest_neardup` keeps durable state instead of StateStore
state: it dedups against its own output table, and stores the corpus
band index under the query's checkpoint directory (``corpus_index/``),
frozen when first built.  Each micro-batch scans those stored bands
once, without shuffling them, and brings the driver one row per batch
row that has a near-dup partner.
"""

from __future__ import annotations

import hashlib
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rick_and_morty_data_pipeline_project_spark.operators.parallelism import (
    materialize,
)
from rick_and_morty_data_pipeline_project_spark.session import hadoop_fs

# Folded into the key of every application-scoped corpus index: in local
# mode an application id is only a start-time stamp.
_PROCESS = uuid.uuid4().hex


def _output_exists(sess, out_dir: str) -> bool:
    """True iff the append target holds a data file (a name not
    starting with ``_`` or ``.``; an aborted first append can leave
    none), listed on the driver.  An explicit probe, NOT a try/except
    around the read: a bare except would also swallow transient FS
    errors / corrupt footers and silently shrink the dedup state to
    corpus-only — readmitting duplicates instead of failing the batch."""
    fs, hpath = hadoop_fs(sess, out_dir)
    return fs.exists(hpath) and any(
        not st.getPath().getName().startswith(("_", "."))
        for st in fs.listStatus(hpath)
    )


def _sink_schema(id_field, last: str):
    """``(id, sig, <last>)``: the declared schema of the near-dup sink's
    stored rows, kept (``ingest_batch``) and indexed (``band``)."""
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    sig = StructField("sig", ArrayType(StringType()))
    return StructType([id_field, sig, StructField(last, StringType())])


def _kept_state(sess, out_dir: str, id_field) -> DataFrame:
    """The near-dup sink's state, ``(id, sig, ingest_batch)`` of every
    kept row, read with a declared schema (no inference job).  A kept
    table without those columns raises instead: read with the declared
    schema it would yield null signatures, which match nothing, and
    silently let duplicates in.  The check reads the parquet footer on
    the driver (no Spark job); where pyarrow cannot open the path it
    falls back to Spark's schema inference."""
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
    return sess.read.schema(_sink_schema(id_field, "ingest_batch")).parquet(out_dir)


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
        fs, hpath = hadoop_fs(sess, f)
        st = fs.getFileStatus(hpath)
        parts.append(f"{f} {st.getLen()} {st.getModificationTime()}")
    if not durable:
        parts += [sess.sparkContext.applicationId, _PROCESS]
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:32]


def _corpus_index(
    sess, corpus: DataFrame, index_dir: str, id_col: str, text_col: str,
    num_hashes: int, band_size: int, shingle_k: int,
) -> DataFrame:
    """The corpus band index: ``(id, sig, band)`` rows of
    ``lsh_bands(minhash_signatures(corpus))`` stored as parquet in
    ``index_dir`` and read with a declared schema.  The band plan is
    built only when ``index_dir`` lacks its ``_SUCCESS`` marker; such a
    directory (a build that died midway) is rebuilt, never read, and
    building an index deletes every other directory next to it."""
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        lsh_bands,
        minhash_signatures,
    )

    fs, marker = hadoop_fs(sess, f"{index_dir}/_SUCCESS")
    if not fs.exists(marker):
        sigs = minhash_signatures(corpus, id_col, text_col, num_hashes, shingle_k)
        bands = lsh_bands(sigs, num_hashes, band_size)
        bands.write.mode("overwrite").parquet(index_dir)
        fs.createNewFile(marker)  # where the session writes no marker
        index = marker.getParent()
        for st in fs.listStatus(index.getParent()):
            if st.getPath().getName() != index.getName():
                fs.delete(st.getPath(), True)
    schema = _sink_schema(corpus.schema[id_col], "band")
    return sess.read.schema(schema).parquet(index_dir)


def _partners(
    batch: DataFrame, seen_bands: DataFrame, id_col: str,
    num_hashes: int, band_size: int, threshold: float,
) -> DataFrame:
    """``(id, _drop, nbrs)``, one row per ``batch`` row with a similar
    partner, from one banded join of the batch rows' bands against
    (batch bands ∪ ``seen_bands``) grouped by the batch id: ``_drop``
    marks a row with a seen partner, ``nbrs`` holds its similar
    in-batch partners.  In-batch similarity is symmetric, so every
    in-batch pair shows up in both of its rows' ``nbrs``."""
    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        lsh_bands,
        signature_jaccard,
    )

    a = lsh_bands(batch.select(id_col, "sig"), num_hashes, band_size)
    b = a.withColumn("_seen", F.lit(False))
    b = b.unionByName(seen_bands.withColumn("_seen", F.lit(True)))
    seen, a_sig = F.col("b._seen"), F.col("a.sig")
    return (
        a.alias("a")
        .join(b.alias("b"), on="band")
        .filter(seen | (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")))
        .filter(signature_jaccard(a_sig, F.col("b.sig"), num_hashes) >= threshold)
        .groupBy(F.col(f"a.{id_col}").alias(id_col))
        .agg(
            F.max(seen).alias("_drop"),
            F.collect_set(F.when(~seen, F.col(f"b.{id_col}"))).alias("nbrs"),
        )
    )


def _min_id_roots(edges) -> dict:
    """Component label of every node of the undirected ``edges`` (node
    pairs): its component's least node, the label
    ``operators/dedup.connected_components`` gives.  Union-find on the
    driver with path halving, every root the least node of its set."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = x = parent[parent[x]]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


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
    pipeline stage.

    Per micro-batch:

    1. the batch rows get their MinHash ``sig`` once (checkpointed);
    2. ONE banded LSH join of the batch bands against (batch bands ∪
       seen bands), seen = the corpus band index PLUS the bands of
       everything previous batches appended, keeps the pairs at
       ``jaccard_est ≥ threshold`` and aggregates them per batch row
       into ``(id, _drop, nbrs)`` (:func:`_partners`), which is
       collected.  A row with a seen partner drops;
    3. on the driver, union-find over the in-batch edges with neither
       end dropped keeps the MIN-ID row of each component (transitive
       within the batch; the batch curation pipeline ranks cluster
       representatives by quality score instead — a stream cannot
       re-rank against documents it has already durably kept);
    4. the batch, anti-joined against a local relation of the dropped
       and losing ids, is appended.

    Driver bound: step 2 brings one row per batch row that has a
    near-dup partner, carrying that row's in-batch partner ids.  That
    grows with the micro-batch (bounded by ``maxFilesPerTrigger`` /
    ``maxBytesPerTrigger``), never with the corpus or the kept table.

    Cost per batch: MinHashing is O(|batch|); the band join scans the
    O(|corpus| + |kept|) stored band rows once and does not shuffle
    them (the planner broadcasts the batch bands); its pairs scale
    with |batch| × band-collision rate.

    State is the durable output table itself (zero StateStore
    footprint): kept rows carry their ``sig``, read back with a declared
    schema, so kept text is never re-hashed; a kept directory without a
    data file (an aborted first append) is no state.  Kept rows also
    carry ``ingest_batch``, ``"{query id}:{batch id}"`` (the query id
    persists across restarts from one checkpoint).  A batch leaves the
    rows tagged with its own ``ingest_batch`` out of its seen state, so
    a replayed batch (the sink appended, the commit log did not record
    it) computes the kept set its first attempt did, and anti-joins
    away the rows that attempt appended.

    Snapshot semantics: the first batch that finds no corpus band index
    writes one under ``checkpoint_dir/corpus_index/``
    (:func:`_corpus_index`), and later batches and queries on the
    checkpoint read it, so the corpus is frozen at index-build time.
    The key taken when the query starts (:func:`_corpus_key`) rebuilds
    it for a rewritten file-backed corpus and once per application for
    any other corpus (Python rows, a local relation, a UDF).

    Keeper policy note: a batch row suppressed by a corpus partner is
    dropped even if it would also have claimed in-batch followers —
    those are compared through their own candidates; cross-batch
    transitivity through a DROPPED row is not tracked (the incremental
    recall trade).

    Returns the started StreamingQuery (availableNow trigger); caller
    awaits termination.
    """
    from pyspark.sql.types import StructType

    from rick_and_morty_data_pipeline_project_spark.operators.dedup import (
        lsh_bands,
        with_minhash_signature,
    )
    from rick_and_morty_data_pipeline_project_spark.operators.localrel import (
        local_relation,
    )

    params = (id_col, text_col, num_hashes, band_size, shingle_k)
    key = _corpus_key(corpus, *params)
    index_dir = f"{checkpoint_dir.rstrip('/')}/corpus_index/{key}"

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        query_id = sess.sparkContext.getLocalProperty("sql.streaming.queryId")
        tag = f"{query_id}:{batch_id}"
        batch = materialize(  # hashed once, consumed twice
            with_minhash_signature(batch_df, text_col, num_hashes, shingle_k)
        )
        seen = _corpus_index(sess, corpus, index_dir, *params)
        id_field = batch.schema[id_col]
        ids = StructType([id_field])
        written = local_relation(sess, [], ids)  # ids a replay already appended
        if _output_exists(sess, out_dir):
            state = _kept_state(sess, out_dir, id_field)
            own = F.col("ingest_batch") == tag
            seen = seen.unionByName(lsh_bands(
                state.filter(~own).select(id_col, "sig"), num_hashes, band_size
            ))
            written = state.filter(own).select(id_col)

        partners = _partners(batch, seen, id_col, num_hashes, band_size, threshold)
        rows = partners.collect()
        dropped = {r[0] for r in rows if r["_drop"]}
        roots = _min_id_roots(
            (r[0], n) for r in rows if not r["_drop"]
            for n in r["nbrs"] if n not in dropped
        )
        losers = [n for n, root in roots.items() if n != root]
        excluded = local_relation(sess, [(i,) for i in [*dropped, *losers]], ids)
        kept = batch.join(excluded.unionByName(written), id_col, "left_anti")
        kept = kept.withColumn("ingest_batch", F.lit(tag))
        kept.write.mode("append").parquet(out_dir)

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
