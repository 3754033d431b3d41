"""Large inline literals as single ``from_json`` nodes.

Building an n-element array literal as ``F.array(*[F.lit(x) …])`` pays
n py4j round-trips at query-construction time and hands Catalyst an
n-node expression tree to analyze on EVERY query build — measured at
~0.5 s per build for the 8×64 IVF centroid literal.  A single string
literal decoded by ``from_json`` is ONE py4j call and ONE tree node; the
optimizer constant-folds the foldable ``from_json`` into the identical
array literal before execution, so the executed plan and every value bit
are unchanged (json round-trips shortest-repr doubles exactly; ints are
exact by definition).

Non-finite doubles (nan/inf) cannot round-trip through JSON, so those
fall back to the nested ``F.lit`` form — defensive only; no production
literal carries them."""

from __future__ import annotations

import json
import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def _all_finite(values) -> bool:
    return all(
        not isinstance(v, float) or math.isfinite(v) for v in values
    )


def array_lit(values, element_type: str = "double") -> Column:
    """1-D array literal: ``array<element_type>``."""
    vals = list(values)
    if _all_finite(vals):
        return F.from_json(
            F.lit(json.dumps(vals)), f"array<{element_type}>"
        )
    return F.array(*[F.lit(v) for v in vals])

