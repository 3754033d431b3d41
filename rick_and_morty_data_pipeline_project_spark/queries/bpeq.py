"""BPE tokenizer-training queries with exact unrolled-CTE oracles.

The merge loop is data-dependent (each iteration's argmax pair feeds
the next), yet both queries are fully hash-verified: the oracle unrolls
the six training iterations as chained CTEs, and because both engines'
``replace`` applies greedy left-to-right non-overlapping scans, the BPE
merge semantics agree exactly (see operators/bpe.py).

Degenerate corpora (fewer than N_MERGES distinct pairs) are handled on
both sides: ``train_bpe`` breaks early and keeps the final
segmentation, and the oracle's w{i} stage is a ``LEFT JOIN ... ON
TRUE`` no-op when b{i} is empty — so an exhausted pair supply never
zeroes out the later CTEs (merge rows simply stop appearing, matching
the Spark-side early break).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rick_and_morty_data_pipeline_project_spark.operators.localrel import (
    local_relation,
)
from rick_and_morty_data_pipeline_project_spark.operators.bpe import (
    symbols_col,
    train_bpe,
)
from rick_and_morty_data_pipeline_project_spark.queries._util import Q, t

N_MERGES = 6

_WC = """
wc AS (
  SELECT word, count(*) AS cnt FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY 1
),
w0 AS (
  SELECT word,
         chr(31) || array_to_string(str_split(word, ''), chr(31)||chr(31))
                 || chr(31) AS w,
         cnt
  FROM wc
)"""


def _stages(n: int) -> str:
    out = []
    for i in range(1, n + 1):
        p = i - 1
        out.append(f"""
s{i} AS (SELECT cnt, str_split(trim(w, chr(31)), chr(31)||chr(31)) AS s
        FROM w{p}),
pc{i} AS (
  SELECT u.p[1] AS l, u.p[2] AS r, CAST(sum(cnt) AS BIGINT) AS c
  FROM s{i}, LATERAL (
    SELECT unnest(list_zip(s[1:len(s)-1], s[2:len(s)])) AS p) u
  GROUP BY 1, 2
),
b{i} AS (SELECT l, r, c FROM pc{i} ORDER BY c DESC, l, r LIMIT 1),
w{i} AS (SELECT word,
               CASE WHEN b.l IS NULL THEN w
                    ELSE replace(w,
                                 chr(31)||b.l||chr(31)||chr(31)||b.r||chr(31),
                                 chr(31)||b.l||b.r||chr(31)) END AS w,
               cnt
        FROM w{p} LEFT JOIN b{i} b ON TRUE)""")
    return ",".join(out)


def _word_counts(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    from rick_and_morty_data_pipeline_project_spark.functions.textfns import (
        tokens_col,
    )

    return (
        d.select(F.explode(tokens_col(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def bpe_train_merges(spark, sf_dir):
    """The learned merge table itself: rank, pair, merged symbol, and
    the weighted pair count that won the iteration.

    Scale: one corpus-sized token count, then every iteration runs on
    the vocabulary relation with a single map-combinable pair aggregate
    and a 1-row collect (operators/bpe.py).
    """
    merges, _ = train_bpe(_word_counts(spark, sf_dir), N_MERGES)
    return local_relation(
        spark,
        [(m.rank, m.left, m.right, m.left + m.right, m.pair_weight) for m in merges],
        "merge_rank int, left_sym string, right_sym string, "
        "merged string, pair_weight long",
    )


BPE_MERGES_SQL = (
    "WITH " + _WC + "," + _stages(N_MERGES) + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT {i} AS merge_rank, l AS left_sym, r AS right_sym, "
        f"l || r AS merged, c AS pair_weight FROM b{i}"
        for i in range(1, N_MERGES + 1)
    )
)


def text_bpe_token_stats(spark, sf_dir):
    """Per-document BPE token counts under the learned merges — the
    sequence-length accounting every packing/sharding stage needs.

    The final segmentation lives on the word-type relation, so each
    document just re-joins its word occurrences to the (small) vocab
    and sums symbol counts: the corpus is scanned twice total (token
    count + final join), never once per merge.
    """
    words = _word_counts(spark, sf_dir)
    _, final = train_bpe(words, N_MERGES)
    seg = final.select(
        "word", F.size(symbols_col("w")).cast("long").alias("n_sym")
    )
    d = t(spark, sf_dir, "documents")
    from rick_and_morty_data_pipeline_project_spark.functions.textfns import (
        tokens_col,
    )

    occ = d.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("word")
    ).filter(F.col("word") != "")
    return (
        occ.join(seg, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").alias("n_bpe_tokens"),
        )
    )


BPE_TOKEN_STATS_SQL = (
    "WITH " + _WC + "," + _stages(N_MERGES) + f""",
seg AS (
  SELECT word,
         len(str_split(trim(w, chr(31)), chr(31)||chr(31)))::BIGINT AS n_sym
  FROM w{N_MERGES}
),
occ AS (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> ''
)
SELECT occ.doc_id,
       count(*) AS n_words,
       CAST(sum(seg.n_sym) AS BIGINT) AS n_bpe_tokens
FROM occ JOIN seg USING (word)
GROUP BY 1
"""
)


def text_bpe_encode(spark, sf_dir):
    """Full BPE ENCODE — per-document token-ID sequences under the
    learned merges, the step that actually feeds a trainer (token
    *stats* prove the segmentation cardinality; the encode proves
    ORDER and id assignment too).  Deterministic id scheme shared by
    both engines: single-char symbols get their codepoint, merge
    products get ``256 + merge_rank`` (merged names are unique — the
    trainer rejects name collisions, operators/bpe.py).

    The sequence is emitted as an md5 fingerprint of the '|'-joined
    ids (plus the token count), so the driver hash certifies the exact
    id sequence without shipping megabyte rows.

    Scale: segmentation and id mapping happen on the word-TYPE
    relation (bounded by vocabulary, not corpus); the corpus is
    scanned twice total (word count + the positioned re-join), same
    as ``text_bpe_token_stats`` — never once per merge.  The per-doc
    reassembly sorts each document's own word positions only.
    """
    words = _word_counts(spark, sf_dir)
    merges, final = train_bpe(words, N_MERGES)
    if merges:
        id_map = F.create_map(
            *[
                x
                for m in merges
                for x in (F.lit(m.left + m.right), F.lit(256 + m.rank))
            ]
        )
    else:  # degenerate corpus: everything single-char
        id_map = F.create_map()
    wordids = final.select(
        "word", symbols_col("w").alias("_syms")
    ).select(
        "word",
        F.size("_syms").cast("long").alias("n_sym"),
        F.array_join(
            F.transform(
                "_syms",
                lambda s: F.coalesce(
                    F.element_at(id_map, s), F.ascii(s)
                ).cast("string"),
            ),
            "|",
        ).alias("_ids"),
    )
    d = t(spark, sf_dir, "documents")
    from rick_and_morty_data_pipeline_project_spark.functions.textfns import (
        tokens_col,
    )

    occ = d.select(
        "doc_id",
        F.posexplode(tokens_col(F.col("text"))).alias("pos", "word"),
    ).filter(F.col("word") != "")
    return (
        occ.join(wordids, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_sym").alias("n_bpe_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "_ids"))
                        ),
                        lambda x: x["_ids"],
                    ),
                    "|",
                )
            ).alias("ids_fingerprint"),
        )
    )


BPE_ENCODE_SQL = (
    "WITH " + _WC + "," + _stages(N_MERGES) + f""",
idmap AS (
  {" UNION ALL ".join(
      f"SELECT l || r AS sym, 256 + {i} AS id FROM b{i}"
      for i in range(1, N_MERGES + 1)
  )}
),
seg AS (
  SELECT word, str_split(trim(w, chr(31)), chr(31)||chr(31)) AS s
  FROM w{N_MERGES}
),
wordids AS (
  SELECT word,
         CAST(count(*) AS BIGINT) AS n_sym,
         string_agg(CAST(COALESCE(m.id, ascii(x.sym)) AS VARCHAR),
                    '|' ORDER BY x.pos) AS ids
  FROM (
    SELECT word, unnest(s) AS sym,
           unnest(generate_series(1, len(s))) AS pos
    FROM seg
  ) x LEFT JOIN idmap m ON m.sym = x.sym
  GROUP BY word
),
occ AS (
  SELECT doc_id, word, pos FROM (
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS word,
           unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
    FROM documents)
  WHERE word <> ''
)
SELECT occ.doc_id,
       CAST(sum(w.n_sym) AS BIGINT) AS n_bpe_tokens,
       md5(string_agg(w.ids, '|' ORDER BY occ.pos)) AS ids_fingerprint
FROM occ JOIN wordids w USING (word)
GROUP BY 1
"""
)


QUERIES: dict[str, Q] = {
    "bpe_train_merges": Q(bpe_train_merges, BPE_MERGES_SQL),
    "text_bpe_token_stats": Q(text_bpe_token_stats, BPE_TOKEN_STATS_SQL),
    "text_bpe_encode": Q(text_bpe_encode, BPE_ENCODE_SQL),
}
