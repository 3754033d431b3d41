"""Shared helpers for the query catalog.

Float-parity strategy with the DuckDB oracle (the driver hash-compares
values, so "close" is not enough — SURVEY.md §7 hard-part 4):

* Money/quantity columns in the corpus are exact 2-decimal values →
  aggregate them as DECIMAL (exact, associative, order-insensitive) and
  cast the final result back to DOUBLE.  Both engines then produce the
  *bitwise identical* float.
* Ratios of integer counts divide two exact integers in float64 →
  identical in both engines.
* Genuinely float-valued aggregates (avg of doubles, ln/cosine results)
  are rounded to 6–9 digits in BOTH engines; summation order differences
  live at ~1e-15 relative, far below the rounding grain.
* Temporal outputs are always formatted to ISO strings — Spark and
  DuckDB disagree on date/timestamp python types, not on the values.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class Q:
    """A catalog entry: Spark implementation + optional DuckDB oracle SQL."""

    fn: Callable[[SparkSession, str], DataFrame]
    sql: Optional[str]
    doc: str = ""


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from rick_and_morty_data_pipeline_project_spark.sources.corpus import load_table

    return load_table(spark, sf_dir, name)


def dec(col: str | Column, p: int = 12, s: int = 2) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({p},{s})")


def dsum(col: str | Column, p: int = 12, s: int = 2) -> Column:
    """Exact decimal sum, surfaced as double (bitwise-stable)."""
    return F.sum(dec(col, p, s)).cast("double")


def davg(col: str | Column, p: int = 12, s: int = 2) -> Column:
    """Exact-sum average: double(sum_decimal) / count — identical float
    ops in both engines."""
    return F.sum(dec(col, p, s)).cast("double") / F.count(F.lit(1))


def iso_date(c: Column) -> Column:
    return F.date_format(c, "yyyy-MM-dd")


#: sketch accuracy shared by every percentile_approx twin — the
#: error-bound tests in tests/test_approx.py assume this value, so the
#: twins must not drift from it independently
APPROX_PCTL_ACCURACY = 10_000


def approx_pctl(c: Column, q: float) -> Column:
    """The ``percentile_approx`` injection used by the ``*_approx``
    100 TB twins (fixed-size KLL-style sketch state per group)."""
    return F.percentile_approx(c, F.lit(q), F.lit(APPROX_PCTL_ACCURACY))
