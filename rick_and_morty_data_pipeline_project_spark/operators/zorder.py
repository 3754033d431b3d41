"""Z-order (Morton) clustering — multi-column data-skipping layout.

Sorting a table by ONE column gives perfect file-level min/max pruning
on that column and none on any other; interleaving the bits of two key
columns (the Morton curve) gives useful pruning on BOTH: each file of a
table range-partitioned on the Morton key covers a small rectangle of
the (a, b) key space, so a predicate box intersects few files.  This is
the layout trick behind Delta/Iceberg `OPTIMIZE ZORDER BY` — here
expressed with plain integer arithmetic (shift/mask/multiply), so it
runs identically in the DuckDB oracle and needs nothing beyond the
DataFrame API.  The catalog's ``table_zorder_layout`` audits a table's
layout with it.

Scale: the interleave is a narrow per-row expression.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def morton_col(a: Column, b: Column, bits: int = 16) -> Column:
    """Interleave the low ``bits`` of two non-negative ints: result bit
    2i is bit i of ``a``, bit 2i+1 is bit i of ``b``.  Static shift
    amounts only — compiles to plain shift/mask/add in codegen."""
    total: Column = F.lit(0).cast("long")
    for i in range(bits):
        total = (
            total
            + F.shiftright(a.cast("long"), i).bitwiseAND(1)
            * F.lit(1 << (2 * i))
            + F.shiftright(b.cast("long"), i).bitwiseAND(1)
            * F.lit(1 << (2 * i + 1))
        )
    return total


def morton_sql(a: str, b: str, bits: int = 16) -> str:
    """The identical interleave as engine-portable SQL (DuckDB oracle)."""
    terms = []
    for i in range(bits):
        terms.append(f"(({a} >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"(({b} >> {i}) & 1) * {1 << (2 * i + 1)}")
    return " + ".join(terms)

