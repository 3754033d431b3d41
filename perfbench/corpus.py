"""Deterministic synthetic corpus with the engine's ten-table schema.

The engine's queries take a directory of ``{table}.parquet`` files
(TPC-H-ish star schema plus ``events``, ``documents`` and
``embeddings``).  This module writes such a directory from a fixed
generator seed, so the pinned output hashes in ``expected.json`` hold
for every checkout.  Columns are independent uniform draws in the
ranges the engine's queries expect.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
CORPUS_SEED = 42
VOCAB = (
    "join hash row batch scan customer column filter small slow merge "
    "order vector line data table agg value key stream window spark a "
    "group part big sort query fast the"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
_DIM = 64


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d.astype("datetime64[D]").astype("datetime64[us]"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _documents(rng, n):
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.1:
            # near-duplicate of an earlier document: one token replaced
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = "dup"
            texts.append(" ".join(toks))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n):
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, _DIM))
    x = centers[labels] + 1.5 * rng.normal(size=(n, _DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * _DIM, _DIM, dtype=np.int32)),
        pa.array(x.reshape(-1)),
    )
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(labels),
    })


def build_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(CORPUS_SEED)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(150, int(15_000 * sf))
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    out = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(_REGIONS)}),
        "nation": pa.table({
            "n_nationkey": i32(range(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }),
        "customer": pa.table({
            "c_custkey": i64(range(n_cust)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": i64(range(n_supp)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
        }),
        "part": pa.table({
            "p_partkey": i64(range(n_part)),
            "p_name": pa.array([
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, _PTYPES, n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)),
        }),
        "orders": pa.table({
            "o_orderkey": i64(range(n_ord)),
            "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0)),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
            "l_partkey": i64(rng.integers(0, n_part, n_line)),
            "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
            "l_linenumber": i32(rng.integers(1, 8, n_line)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, n_line, 900.0, 100000.0)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        }),
        "events": pa.table({
            "event_id": i64(range(n_ev)),
            "ts": pa.array(
                np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
                + np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
            ).cast(pa.timestamp("us")),
            "user_id": i64(rng.integers(0, n_users, n_ev)),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2))),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }),
        "documents": _documents(rng, max(500, int(50_000 * sf))),
        "embeddings": _embeddings(rng, max(500, int(20_000 * sf))),
    }
    return out


def ensure_corpus(root: str, sf: str) -> str:
    """Write the corpus for scale factor ``sf`` under ``root`` once and
    return its directory; a marker file makes a half-written tree
    count as absent."""
    d = os.path.join(root, f"sf{sf}")
    marker = os.path.join(d, "_COMPLETE")
    if os.path.exists(marker):
        return d
    os.makedirs(d, exist_ok=True)
    for name, table in build_tables(float(sf)).items():
        pq.write_table(table, os.path.join(d, f"{name}.parquet"), compression="snappy")
    with open(marker, "w") as f:
        f.write("ok\n")
    return d
