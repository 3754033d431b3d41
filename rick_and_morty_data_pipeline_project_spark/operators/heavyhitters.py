"""Misra-Gries / Space-Saving heavy hitters — mergeable frequency
summaries with a PROVABLE deterministic error bound.

Public method: Misra & Gries 1982; mergeability per Agarwal et al.,
"Mergeable Summaries" (PODS'12).  A k-counter MG summary built over N
items guarantees, for EVERY item v:

    est(v) <= true(v)            (one-sided undercount), and
    true(v) - est(v) <= N/(k+1)  (total decrement bound),

so any item with true frequency > N/(k+1) MUST survive in the summary.
Both properties hold for ANY processing order and ANY partitioning of
the input, which is what makes the audit booleans deterministic even
though the estimates themselves depend on partition layout.

Distributed shape (the 100 TB story): each partition reduces to at
most k (item, count) rows via one Arrow-batched ``mapInPandas`` pass
(per-partition exact value counts, compressed to a valid MG summary by
subtracting the (k+1)-th largest count — the standard reduction); the
driver merges <= k x |partitions| tiny rows by counter addition plus
one more compression.  Raw rows never shuffle; the collect is bounded
by k x partitions regardless of data volume.

Reference parity note: the reference (453-line scraper, Scraper.py)
has no frequency sketches; this extends SURVEY.md §2.10's sketch
surface (HLL, CMS) with the deterministic-bound heavy-hitter family.
Kept in its own module so additive growth never stales dedup.py's or
sketches.py's certification fingerprints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _mg_compress(counts: dict, k: int) -> dict:
    """Reduce exact (or merged) counters to a valid k-counter MG
    summary: if more than k items, subtract the (k+1)-th largest count
    from every counter and keep the strictly positive ones.  The
    subtraction charges at most (k+1) * d decrements against the N
    items consumed, preserving the N/(k+1) total-error invariant."""
    if len(counts) <= k:
        return {v: c for v, c in counts.items() if c > 0}
    vals = sorted(counts.values(), reverse=True)
    d = vals[k]  # the (k+1)-th largest
    return {v: c - d for v, c in counts.items() if c - d > 0}


def mg_partition_summaries(df: DataFrame, col: str, k: int) -> DataFrame:
    """One MG summary per partition: <= k (item, est) rows each, via a
    single Arrow-batched pass (no shuffle).

    NULL is not an item: null rows are excluded BEFORE counting (and N
    in any bound check must be the non-null row count)."""
    import pandas as pd

    def fn(batches):
        from collections import Counter

        cnt: Counter = Counter()
        for pdf in batches:
            cnt.update(pdf[col].value_counts().to_dict())
        out = _mg_compress(dict(cnt), k)
        yield pd.DataFrame(
            {"item": list(out.keys()), "est": list(out.values())}
        )

    return (
        df.select(F.col(col).cast("string").alias(col))
        .filter(F.col(col).isNotNull())
        .mapInPandas(fn, "item string, est long")
    )


def heavy_hitters_misra_gries(df: DataFrame, col: str, k: int) -> dict:
    """Merged k-counter MG summary over the whole frame: collect the
    bounded per-partition summaries (<= k x |partitions| rows), add
    counters, compress once more.  Returns {item: est}."""
    from collections import Counter

    cnt: Counter = Counter()
    for r in mg_partition_summaries(df, col, k).collect():
        cnt[r["item"]] += r["est"]
    return _mg_compress(dict(cnt), k)
