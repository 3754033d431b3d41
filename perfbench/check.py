"""Order-insensitive value hashes for query outputs.

Columns are taken in name order and rows in sorted order, so two
engines that return the same multiset of rows give the same hash.
Values are rendered exactly: floats by ``repr`` (bitwise), timestamps at
microsecond precision, arrays as lists, and every null as one token.
These are the semantics of the engine's DuckDB oracle comparison.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

NULL = "∅"


def _plain(v):
    if isinstance(v, np.ndarray):
        return [_plain(x) for x in v.tolist()]
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in sorted(v.items())}
    if isinstance(v, np.generic):
        return v.item()
    return v


def _column(s: pd.Series) -> list[str]:
    null = s.isna().to_numpy() if s.dtype != object else [
        v is None or (isinstance(v, float) and v != v) for v in s
    ]
    if pd.api.types.is_datetime64_any_dtype(s):
        vals = [str(v) for v in s.astype("datetime64[us]")]
    elif pd.api.types.is_bool_dtype(s):
        vals = [str(bool(v)) for v in s]
    elif pd.api.types.is_integer_dtype(s):
        vals = [str(int(v)) if not n else "" for v, n in zip(s, null)]
    elif pd.api.types.is_float_dtype(s):
        vals = [repr(float(v)) for v in s]
    else:
        vals = [repr(_plain(v)) for v in s]
    return [NULL if n else v for v, n in zip(vals, null)]


def frame_hash(df: pd.DataFrame) -> tuple[int, str]:
    """(row count, sha256 hex) of ``df`` independent of row and column order."""
    cols = sorted(df.columns)
    rendered = [_column(df[c]) for c in cols]
    rows = sorted("\x1f".join(r) for r in zip(*rendered)) if cols else []
    h = hashlib.sha256("\x1f".join(cols).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return len(df), h.hexdigest()


def id_hash(ids: list[int]) -> tuple[int, str]:
    """(count, sha256 hex) of a set of ids, independent of their order."""
    ids = sorted(ids)
    return len(ids), hashlib.sha256(",".join(map(str, ids)).encode()).hexdigest()


def mismatch(got: tuple[int, str], pin: dict) -> str | None:
    """None when ``got`` (from :func:`frame_hash`) matches its pin."""
    if list(got) == [pin["rows"], pin["hash"]]:
        return None
    return f"output (rows={got[0]}, hash={got[1][:12]}) != pinned (rows={pin['rows']}, hash={pin['hash'][:12]})"
