"""SCD Type-2 (history-keeping) dimension maintenance.

Instead of overwriting a changed attribute in place, close the current
version row (``valid_to`` = effective date, ``is_current`` = 0) and
open a new one — so every fact join can be replayed *as of* any date.

Set-oriented, one shuffle on the dimension key:

    open    = current WHERE is_current
    changed = open ⋈ updates ON key WHERE tracked attrs differ
    result  = closed history rows            (pass-through)
            ∪ open rows with no change       (pass-through)
            ∪ changed rows, now closed
            ∪ changed + brand-new keys, opened at the effective date

At 100 TB the dimension is small next to facts but can still be
billions of rows; everything here is a key-equi-join + unions —
broadcastable when updates are small (the common daily-batch case; a
hint keyword below), shuffle-hash otherwise, and the output partitions
naturally by the same key for the downstream fact join.  Apply-to-disk
reuses merge.py's temp-write + atomic-rename swap.

No counterpart in the reference (Scraper.py overwrites in place —
SNK-1/MUT-2); this is the history-preserving completion of that
surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OPEN_END = "9999-12-31"


def scd2_apply(
    current: DataFrame,
    updates: DataFrame,
    key: str,
    tracked: list[str],
    effective_col: str = "effective_date",
    broadcast_updates: bool = True,
) -> DataFrame:
    """Return the new SCD2 state (all history + updated current rows).

    ``current`` columns: key, *tracked, valid_from, valid_to (string
    dates; ``OPEN_END`` sentinel keeps the open rows range-joinable and
    NULL-free), is_current (0/1).  ``updates``: key, *tracked,
    effective_col.  A change is any tracked-attribute difference on an
    open row; closing sets ``valid_to`` to the effective date.
    NULL-safe comparison via ``eqNullSafe``.
    """
    upd = updates.select(
        F.col(key),
        *[F.col(c).alias(f"_u_{c}") for c in tracked],
        F.col(effective_col).alias("_eff"),
    )
    # One update per key per apply: SCD2 is a sequential protocol, so a
    # batch carrying several versions of one key must be applied as
    # several batches to yield several history rows.  Within ONE apply,
    # collapse deterministically to the latest effective date
    # (last-writer-wins; ties broken by the tracked values) — without
    # this, the left join below fans the open row out and emits
    # multiple is_current=1 rows per key (corrupt state).
    from pyspark.sql.window import Window

    w = Window.partitionBy(key).orderBy(
        F.desc("_eff"), *[F.desc(f"_u_{c}") for c in tracked]
    )
    upd = (
        upd.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if broadcast_updates:
        upd = F.broadcast(upd)

    closed_history = current.filter(F.col("is_current") == 0)
    open_rows = current.filter(F.col("is_current") == 1)

    joined = open_rows.join(upd, key, "left")
    all_same = F.lit(True)
    for c in tracked:
        all_same = all_same & F.col(c).eqNullSafe(F.col(f"_u_{c}"))
    changed_pred = F.col("_eff").isNotNull() & ~all_same

    untouched = joined.filter(~changed_pred).select(current.columns)
    now_closed = joined.filter(changed_pred).select(
        F.col(key),
        *[F.col(c) for c in tracked],
        F.col("valid_from"),
        F.col("_eff").alias("valid_to"),
        F.lit(0).alias("is_current"),
    )
    reopened = joined.filter(changed_pred).select(
        F.col(key),
        *[F.col(f"_u_{c}").alias(c) for c in tracked],
        F.col("_eff").alias("valid_from"),
        F.lit(OPEN_END).alias("valid_to"),
        F.lit(1).alias("is_current"),
    )
    # Anti-join against OPEN keys, not all current keys: a key whose
    # rows are all closed (dormant — e.g. a soft-deleted dimension
    # member) must be REOPENED by a fresh update, not silently dropped.
    # Under the one-open-row-per-key invariant this is identical to the
    # all-keys anti-join; without it, it is the only correct choice.
    brand_new = (
        upd.join(open_rows.select(key).distinct(), key, "left_anti")
        .select(
            F.col(key),
            *[F.col(f"_u_{c}").alias(c) for c in tracked],
            F.col("_eff").alias("valid_from"),
            F.lit(OPEN_END).alias("valid_to"),
            F.lit(1).alias("is_current"),
        )
    )
    return (
        closed_history.select(current.columns)
        .unionByName(untouched)
        .unionByName(now_closed.select(current.columns))
        .unionByName(reopened.select(current.columns))
        .unionByName(brand_new.select(current.columns))
    )
