"""Mergeable sketch aggregates: DataSketches HLL and Count-Min.

The 100 TB pattern these enable is the *sketch table*: aggregate the raw
corpus ONCE into tiny fixed-size binary sketches keyed by a coarse
dimension (day, source, shard), persist that table (kilobytes per key,
independent of input size), and answer every subsequent rollup — weekly
uniques, cross-source uniques, ad-hoc unions — by re-aggregating the
sketches instead of re-scanning 100 TB.  Both sketches are commutative
monoids, so Spark's partial aggregation (map-side combine) applies: each
task folds its partition into one sketch and only the fixed-size states
cross the shuffle.

* HLL (`hll_sketch_agg` / `hll_union_agg` / `hll_sketch_estimate`) —
  distinct-count rollups whose unions are lossless: estimating the union
  of per-day sketches is byte-for-byte the same estimator state as
  sketching the whole input (property-tested in tests/test_approx.py).
* Count-Min (`count_min_sketch`) — point-frequency estimates with the
  one-sided guarantee `true ≤ est ≤ true + eps·N` at confidence δ.  The
  aggregate state is a fixed depth×width counter grid (~depth·width·8
  bytes however large the input), which the probe stage reads as plain
  arithmetic: Spark serializes it as
  ``int32 version | int64 totalCount | int32 depth | int32 width |
  int64 hashA[depth] | int64 table[depth][width]`` (big-endian), and a
  long item hashes to row bucket
  ``((hashA[i]*item + ((hashA[i]*item) >> 32)) & (2^31-1)) % width``
  with Java *signed* 64-bit arithmetic.  That layout/hash is replayed
  here in numpy (layout verified against the JVM output by
  tests/test_sketches.py; all-items bound check) so the probe side is a
  vectorized Arrow-batched map with the decoded grid captured in the
  closure — the sketch itself is collected once on the driver (fixed
  ~100 KB whatever the corpus size, same pattern as the IVF centroid
  literals in operators/similarity.py).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_CMS_PRIME = (1 << 31) - 1


@dataclass
class CmsSketch:
    """Decoded Spark `count_min_sketch` aggregate state."""

    total_count: int
    depth: int
    width: int
    hash_a: np.ndarray  # int64[depth]
    table: np.ndarray  # int64[depth, width]

    def estimate_longs(self, items: np.ndarray) -> np.ndarray:
        """Vectorized point-frequency estimates for int64 items,
        replaying the JVM hash with numpy's wraparound int64 ops (which
        match Java's signed overflow + arithmetic shift semantics)."""
        items = items.astype(np.int64, copy=False)
        with np.errstate(over="ignore"):
            # [depth, n] — hashA[i] * item with signed 64-bit wraparound
            h = self.hash_a[:, None] * items[None, :]
            h = h + (h >> np.int64(32))
        h = h & np.int64(_CMS_PRIME)
        buckets = h % np.int64(self.width)
        vals = self.table[np.arange(self.depth)[:, None], buckets]
        return vals.min(axis=0)


def cms_decode(raw: bytes) -> CmsSketch:
    """Parse the big-endian CountMinSketchImpl serialization (version 1)."""
    version, = struct.unpack_from(">i", raw, 0)
    if version != 1:  # pragma: no cover - future-proofing guard
        raise ValueError(f"unsupported count_min_sketch version {version}")
    total, depth, width = struct.unpack_from(">qii", raw, 4)
    off = 20
    hash_a = np.frombuffer(raw, dtype=">i8", count=depth, offset=off)
    off += 8 * depth
    table = np.frombuffer(raw, dtype=">i8", count=depth * width, offset=off)
    expected = off + 8 * depth * width
    if len(raw) != expected:
        raise ValueError(f"cms length {len(raw)} != expected {expected}")
    return CmsSketch(
        total_count=total,
        depth=depth,
        width=width,
        hash_a=hash_a.astype(np.int64),
        table=table.astype(np.int64).reshape(depth, width),
    )


# NOTE: the DataSketches-based ``hll_rollup`` operator that lived here
# through r8 was superseded in r9 by the explicit-register HLL
# (``operators/hllreg.py``) that now powers ``sketch_hll_rollup`` —
# the built-in ``hll_sketch_agg`` surface remains exercised directly
# by the oracled audit twins in queries/sketchq.py.


CMS_CANON = {
    # Spark CountMinSketchImpl parameters for (eps=0.001,
    # confidence=0.99, seed=42): width = ceil(2/eps), depth =
    # ceil(log2(1/(1-confidence))), hashA = the seed-42 row-hash
    # multipliers.  Pinned as literals so a DuckDB oracle can replay
    # the grid arithmetic exactly (the PCA/IVF canonical-literal
    # pattern); `cms_point_estimates(pin=CMS_CANON)` raises if the JVM
    # sketch ever disagrees, turning a layout/seed regression into a
    # driver-red error instead of a silent estimate drift.
    "depth": 7,
    "width": 2000,
    "hash_a": (
        1562431130,
        117392763,
        1467211248,
        102948884,
        662969970,
        2023087525,
        595021505,
    ),
}


def cms_point_estimates(
    df: DataFrame,
    item_col: str,
    eps: float = 0.001,
    confidence: float = 0.99,
    seed: int = 42,
    pin: "dict | None" = None,
) -> DataFrame:
    """Per-item exact counts alongside the Count-Min estimates read from
    ONE global sketch.

    Build: a single map-combinable `count_min_sketch` aggregate (state is
    the fixed grid, so the shuffle carries one ~100 KB row per task).
    The driver collects that one row — a fixed-size transfer at any
    corpus size — and decodes it to numpy.  Probe: the distinct items
    (already a reduced relation) flow through an Arrow-batched pandas
    UDF that indexes the captured grid; no Python touches raw events.

    Returns (item, exact_count, est_count, overcount) — `overcount =
    est − exact ≥ 0` is the CMS one-sided error, bounded by eps·N with
    probability `confidence` (asserted in tests/test_sketches.py).

    NULL items are excluded on BOTH sides: the JVM count_min_sketch
    aggregate skips NULLs when building, so the exact groupBy must not
    keep a NULL group either (its probe would also crash the int64
    numpy conversion in the pandas UDF).
    """
    df = df.filter(F.col(item_col).isNotNull())
    raw = df.agg(
        F.count_min_sketch(
            item_col, F.lit(eps), F.lit(confidence), F.lit(seed)
        ).alias("sk")
    ).collect()[0]["sk"]
    sketch = cms_decode(bytes(raw))
    if pin is not None and (
        sketch.depth != pin["depth"]
        or sketch.width != pin["width"]
        or tuple(int(a) for a in sketch.hash_a) != tuple(pin["hash_a"])
    ):
        raise ValueError(
            "count_min_sketch state diverged from the pinned canon "
            f"(depth {sketch.depth} width {sketch.width} "
            f"hashA {list(sketch.hash_a)}) — the grid-replay oracle "
            "would silently diverge"
        )

    @F.pandas_udf("long")
    def est(items: pd.Series) -> pd.Series:
        return pd.Series(
            sketch.estimate_longs(items.to_numpy(dtype=np.int64))
        )

    exact = df.groupBy(F.col(item_col).alias("item")).agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    return exact.withColumn("est_count", est("item")).select(
        "item",
        "exact_count",
        "est_count",
        (F.col("est_count") - F.col("exact_count")).alias("overcount"),
    )
