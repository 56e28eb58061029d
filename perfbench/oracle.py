"""Order-insensitive comparison of query results with DuckDB oracles.

Both sides go through pandas and the same checks as the repository's
oracle-parity tests: column names, row count, pandas dtype kinds (integer
kinds merged, all-NULL columns as wildcards) and values normalised the
same way: exact floats, NaN as a token, numpy scalars and arrays as Python
values, rows sorted with a None-safe key.
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per generated table."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _normalize(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if v is pd.NaT:
        return None
    if isinstance(v, np.generic):
        return _normalize(v.item())
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, np.ndarray):
        return tuple(_normalize(x) for x in v.tolist())
    if isinstance(v, list):
        return tuple(_normalize(x) for x in v)
    return v


def canon(pdf: pd.DataFrame) -> list[tuple]:
    """Rows of ``pdf`` with columns in name order, normalised and sorted."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = [
        tuple(_normalize(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    ]
    return sorted(rows, key=lambda t: tuple(
        (x is None, x or 0 if not isinstance(x, str) else x) for x in t
    ))


def dtype_kinds(pdf: pd.DataFrame) -> dict[str, str]:
    """Column -> coarse pandas dtype kind; signed and unsigned integers are
    one kind, and an all-NULL column is ``null`` (float NaN on one engine,
    object None on the other)."""
    kinds = {}
    for c in sorted(pdf.columns):
        k = pdf[c].dtype.kind
        kinds[c] = "null" if pdf[c].isna().all() else ("i" if k in "iu" else k)
    return kinds


def mismatch(got: pd.DataFrame, want: pd.DataFrame, kinds: bool = True) -> str | None:
    """Why ``got`` differs from ``want``, or None when they agree.

    ``kinds=False`` skips the dtype-kind check, for results decoded from
    JSON text, whose pandas dtypes come from the decoder, not the engine.
    """
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} vs {len(want)}"
    if kinds:
        gk, wk = dtype_kinds(got), dtype_kinds(want)
        differ = {c: (gk[c], wk[c]) for c in gk
                  if gk[c] != wk[c] and "null" not in (gk[c], wk[c])}
        if differ:
            return f"dtype kinds (got, oracle) {differ}"
    for a, b in zip(canon(got), canon(want)):
        if a != b:
            return f"first differing row {a} vs {b}"
    return None
