"""Distributed BPE tokenizer training (byte-pair-encoding merges).

The tokenizer-training step of an LLM data pipeline, restated for
Spark's execution model:

* **Train on the word-frequency relation, not the corpus.**  Classic
  BPE iterates over word *types* weighted by frequency, so the first
  (and only corpus-sized) job is one whitespace-token count — a single
  map-combinable shuffle.  Every merge step after that runs on the
  vocabulary relation, which is orders of magnitude smaller than the
  corpus and bounded by the type count whatever the input size.
* **Driver-side finish when the vocab fits (the default path).**  This
  is the industry-standard trainer shape (count distributed, merge
  loop on the reduced relation): once the (word, cnt) relation is
  under ``max_driver_vocab`` rows it is collected ONCE and the merge
  loop runs in plain Python — zero Spark jobs per merge, identical
  greedy semantics (pinned against the distributed path in
  tests/test_bpe.py).  The Python loop is *incremental* (postings
  index + lazy max-heap; see :func:`_train_driver`): per-merge work is
  proportional to the words containing the merged pair, not the whole
  vocabulary, so a 2M-type × 32k-merge production run does O(total
  affected-word symbols) work instead of the O(vocab·len·merges)
  full recount.  The collect is guarded exactly like
  greedy_match's ``max_left_rows`` (operators/matching.py): oversize
  vocabularies never OOM the driver, they take the distributed path.
* **Exact batched merges on the distributed path.**  One aggregation
  job per *layer*, not per merge: the driver collects the top
  ``batch_m`` pair candidates and accepts the largest prefix that is
  PROVABLY order-equivalent to the one-at-a-time loop
  (:func:`_select_batch`): accepted picks share no symbol, none of
  their merged names collides with a pre-existing symbol (the created
  set is driver-known: every multi-char symbol is a prior merge
  product), and each later pick's count strictly exceeds an upper
  bound on any pair the earlier picks can create (a new pair
  ``(x, lr)`` inherits at most the pre-layer count of ``(x, l)``, and
  ``(lr, y)`` at most that of ``(r, y)`` — both visible in the
  collected candidates, with the ``batch_m``-th count bounding every
  uncollected pair).  Identical merge tables by construction —
  fuzz-pinned over random corpora in tests/test_bpe.py.  Measured
  layers-per-64-merges: ~25 on a Zipfian vocab (2.6×), ~39 on the
  near-uniform test fixture (1.6×) — the near-uniform case is the
  worst case for count-gap batching, which is why the driver-side
  finish is the default (1 pair-scan job total, >30× fewer jobs).
* **Symbol sequences as delimiter-wrapped strings.**  A word's current
  segmentation is one string with every symbol wrapped in ``\\x1f``
  (``"ab" → "\\x1fa\\x1f\\x1fb\\x1f"``).  Applying merge (l, r) is then a
  plain ``replace("\\x1fl\\x1f\\x1fr\\x1f" → "\\x1flr\\x1f")`` — and because
  both the JVM's and DuckDB's ``replace`` scan left-to-right
  non-overlapping, the *greedy merge semantics of BPE come out of the
  engine's string primitive*, identically in both engines, which is
  what makes an exact unrolled-CTE SQL oracle possible for an
  iterative tokenizer trainer (same trick family as the PageRank
  unrolled oracle).  A batch layer chains one replace per accepted
  pick; non-conflict makes the order within the layer irrelevant.

No counterpart in the reference (a 453-line scraper); extends
SURVEY.md §2.10's text surface.
"""

from __future__ import annotations

import heapq
from collections import Counter, defaultdict
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rick_and_morty_data_pipeline_project_spark.operators.localrel import (
    local_relation,
)
from rick_and_morty_data_pipeline_project_spark.operators.parallelism import (
    materialize,
)

DELIM = "\x1f"
_DD = DELIM + DELIM


def wrap_word_col(word) -> "F.Column":
    """word → one-symbol-per-char wrapped string."""
    return F.concat(
        F.lit(DELIM),
        F.array_join(F.split(word, ""), _DD),
        F.lit(DELIM),
    )


def symbols_col(w) -> "F.Column":
    """wrapped string → current symbol array."""
    return F.split(F.expr(f"btrim({w}, '{DELIM}')"), _DD)


@dataclass
class BpeMerge:
    rank: int
    left: str
    right: str
    pair_weight: int


def _apply_merge(seq: list[str], left: str, right: str) -> list[str]:
    """Greedy left-to-right non-overlapping merge — the Python twin of
    the wrapped-string ``replace`` (same scan order, same semantics)."""
    out, i = [], 0
    n = len(seq)
    while i < n:
        if i + 1 < n and seq[i] == left and seq[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(seq[i])
            i += 1
    return out


def _select_batch(
    cands: list[tuple[str, str, int]],
    tail_bound: int,
    created: set[str],
    remaining: int,
) -> list[tuple[str, str, int]]:
    """Largest prefix of the rank-ordered candidates that is provably
    order-equivalent to picking one argmax at a time.

    ``cands`` is (left, right, count) sorted by (count desc, left,
    right) — the training order.  ``tail_bound`` is an upper bound on
    the count of any pair NOT in ``cands`` (the batch_m-th collected
    count, or 0 if the collection was exhaustive).  ``created`` is the
    set of merge-product symbol names from earlier layers (every
    multi-char symbol in the alphabet — initial symbols are single
    chars, so this plus the within-batch names is the complete
    collision surface).

    Candidate k (k ≥ 1) is accepted only when, relative to the already
    accepted picks:
      1. it shares no symbol with them (its own count is then provably
         unchanged at its sequential turn: merging disjoint symbols
         neither destroys nor creates its adjacencies);
      2. neither of its symbols equals an accepted pick's merged name,
         and no accepted name collides with a pre-existing symbol
         (name collisions make new occurrences indistinguishable from
         old ones and can boost a pre-layer pair's count);
      3. its count strictly exceeds every pair any accepted pick can
         create: new pair (x, lr) has count ≤ pre-count(x, l) and
         (lr, y) ≤ pre-count(r, y) — the max over collected candidates
         adjacent to an accepted pick, or ``tail_bound`` for
         uncollected ones.
    The first failing candidate ends the batch (a prefix, never a
    skip: a conflicted candidate's sequential-turn count is unknown,
    so nothing after it can be proven to keep its turn).
    """
    accepted: list[tuple[str, str, int]] = []
    syms: set[str] = set()
    names: set[str] = set()
    for l, r, c in cands:
        if len(accepted) >= remaining:
            break
        if accepted:
            if l in syms or r in syms or l in names or r in names:
                break
            if names & created:
                break
            bound = tail_bound
            lefts = {a[0] for a in accepted}
            rights = {a[1] for a in accepted}
            for xl, xr, xc in cands:
                if xr in lefts or xl in rights:
                    bound = max(bound, xc)
            if c <= bound:
                break
        accepted.append((l, r, c))
        syms.update((l, r))
        names.add(l + r)
    return accepted


def _train_driver(
    rows: list, n_merges: int, stats: dict | None = None
) -> tuple[list[BpeMerge], list[tuple[str, int, str]]]:
    """The vocab-fits fast path: exact sequential greedy training in
    Python over the collected (word, cnt) relation.  Returns the merge
    table and (word, cnt, wrapped-final-segmentation) rows.

    Incremental structure (the standard BPE-trainer shape): pair counts
    and a pair→words postings index are built ONCE from the initial
    character segmentation — O(total symbols).  Each merge then

    1. pops the argmax from a lazy max-heap keyed (-count, left,
       right), discarding stale entries by validating against the live
       count (ties break exactly like the old full-scan ``min`` —
       highest count, then lexicographic (left, right));
    2. re-segments ONLY the words in ``where[(l, r)]`` — the postings
       set — and applies the pair-count delta between each word's old
       and new adjacency multiset.

    Per-merge work is therefore proportional to the affected words and
    their lengths, not the whole vocabulary (the old implementation
    recounted every pair of every word per merge: O(vocab·len·merges),
    pathological at the 2M-row cap × 32k-merge production vocabs).
    Every count change pushes a fresh heap entry, so the heap always
    holds each live pair's current value; stale higher entries are
    skipped on pop.  ``stats`` (when given) records
    ``driver_touched_words`` — the summed postings sizes across merges
    — which tests assert is ≪ vocab·merges on localized corpora.
    """
    segs = {r["word"]: list(r["word"]) for r in rows}
    cnts = {r["word"]: int(r["cnt"]) for r in rows}
    pairs: Counter = Counter()
    where: defaultdict = defaultdict(set)
    for w, cnt in cnts.items():
        s = segs[w]
        for a, b in zip(s, s[1:]):
            pairs[(a, b)] += cnt
            where[(a, b)].add(w)
    heap = [(-c, l, r) for (l, r), c in pairs.items()]
    heapq.heapify(heap)
    touched = 0
    merges: list[BpeMerge] = []
    for rank in range(1, n_merges + 1):
        while heap:
            negc, l, r = heap[0]
            if pairs.get((l, r)) == -negc:
                break
            heapq.heappop(heap)  # stale: count changed since push
        if not heap:
            break
        negc, l, r = heapq.heappop(heap)
        c = -negc
        merges.append(BpeMerge(rank, l, r, c))
        affected = where.pop((l, r), set())
        touched += len(affected)
        changed: set = set()
        for w in affected:
            cnt = cnts[w]
            old = segs[w]
            new = _apply_merge(old, l, r)
            segs[w] = new
            old_adj = Counter(zip(old, old[1:]))
            new_adj = Counter(zip(new, new[1:]))
            for p in old_adj.keys() | new_adj.keys():
                d = new_adj[p] - old_adj[p]
                if d:
                    pairs[p] += d * cnt
                    changed.add(p)
                if p in new_adj:
                    where[p].add(w)
                elif p in where:
                    where[p].discard(w)
        pairs.pop((l, r), None)
        changed.discard((l, r))
        for p in changed:
            if pairs[p] > 0:
                heapq.heappush(heap, (-pairs[p], p[0], p[1]))
            else:
                pairs.pop(p, None)
                where.pop(p, None)
    if stats is not None:
        stats["driver_touched_words"] = touched
    final = [
        (w, cnts[w], DELIM + _DD.join(segs[w]) + DELIM) for w in segs
    ]
    return merges, final


def train_bpe(
    words: DataFrame,
    n_merges: int,
    batch_m: int = 64,
    max_driver_vocab: int = 2_000_000,
    stats: dict | None = None,
) -> tuple[list[BpeMerge], DataFrame]:
    """Learn ``n_merges`` BPE merges from a (word, cnt) relation
    (unique words, e.g. a groupBy output).

    Returns the merge table and the word relation with its final
    segmentation (column ``w``) for downstream token accounting.
    Results are identical on both paths and for any ``batch_m``
    (``batch_m=1`` degenerates to the classic one-argmax-per-job
    loop); ``stats`` (optional dict) records which path ran and how
    many pair-scan jobs it took.
    """
    spark = words.sparkSession
    # ONE bounded collect decides the path atomically: cap+1 rows is
    # the maximum driver transfer, and because the size check and the
    # data come from the SAME evaluation, a relation that is
    # non-deterministic between jobs can neither oversize the transfer
    # (old round-4 finding) nor slip a truncated-but-accepted vocab
    # into the driver trainer (the round-6 review's counter-finding to
    # the first fix): an over-cap evaluation falls through to the
    # distributed path instead of silently training on a subset.
    head = words.select("word", "cnt").limit(max_driver_vocab + 1).collect()
    if len(head) <= max_driver_vocab:
        merges, final_rows = _train_driver(head, n_merges, stats)
        if stats is not None:
            stats.update(path="driver", pair_scan_jobs=1)
        final = local_relation(
            spark, final_rows, "word string, cnt long, w string"
        ).select("word", "cnt", "w")
        return merges, final

    # Distributed path: exact batched layers over the vocab relation.
    # Materialize the vocab ONCE: every layer runs an action, and
    # without this cut each pair-count job would replay the corpus-
    # sized token count (the repeated-action anti-pattern).  After the
    # cut the per-layer lineage is vocab-sized replace layers only.
    cur = materialize(
        words.select("word", "cnt", wrap_word_col(F.col("word")).alias("w"))
    )
    merges_out: list[BpeMerge] = []
    created: set[str] = set()
    layers = 0
    while len(merges_out) < n_merges:
        syms = cur.select("cnt", symbols_col("w").alias("s"))
        pairs = syms.select(
            "cnt",
            F.explode(
                F.zip_with(
                    F.slice(F.col("s"), 1, F.size("s") - 1),
                    F.slice(F.col("s"), 2, F.size("s")),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy(
                F.col("p.l").alias("l"), F.col("p.r").alias("r")
            )
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.desc("c"), "l", "r")
            .limit(batch_m)
            .collect()
        )
        if not top:
            break
        layers += 1
        cands = [(r["l"], r["r"], int(r["c"])) for r in top]
        tail_bound = cands[-1][2] if len(cands) == batch_m else 0
        accepted = _select_batch(
            cands, tail_bound, created, n_merges - len(merges_out)
        )
        w = F.col("w")
        for l, r, c in accepted:
            merges_out.append(BpeMerge(len(merges_out) + 1, l, r, c))
            created.add(l + r)
            w = F.replace(
                w,
                F.lit(f"{DELIM}{l}{DELIM}{DELIM}{r}{DELIM}"),
                F.lit(f"{DELIM}{l}{r}{DELIM}"),
            )
        cur = cur.withColumn("w", w)
        # Bound lineage growth across layers: each materialization
        # cuts the replace-chain plan so layer i never re-runs layers
        # 1..i−1 (vocab-sized relation — cheap to persist).
        if layers % 4 == 0:
            cur = materialize(cur)
    if stats is not None:
        stats.update(path="distributed", pair_scan_jobs=layers)
    return merges_out, cur
