"""Independent correctness oracle for the CDC workloads.

Applies the same change stream the engine applies, in pandas and DuckDB,
without the engine's ``operators.cdc``: per batch, the latest change of
each key wins (greatest ``timestamp``; a tie goes to the higher op rank
I < U < D), then a latest D removes the key and a latest I or U
replaces the whole row.

Table states are compared by an order-insensitive hash over canonical
cell values, so the engine's row order and physical layout do not
matter.
"""

from __future__ import annotations

import datetime as _dt
import decimal

import duckdb
import numpy as np
import pandas as pd

_OP_RANK = {"I": 0, "U": 1, "D": 2}


class OracleState:
    """The expected state of one keyed table."""

    def __init__(self, initial: pd.DataFrame, key: str) -> None:
        self.key = key
        self.columns = list(initial.columns)
        self.frame = initial.set_index(key, drop=False)

    def apply(self, batch: pd.DataFrame) -> None:
        """Apply one CDC batch (columns ``Op``, ``timestamp`` and the
        full post-image of the row)."""
        if batch.empty:
            return
        ranked = batch.assign(_rank=batch["Op"].map(_OP_RANK))
        if ranked["_rank"].isna().any():
            raise ValueError(f"unknown Op values {sorted(set(batch['Op']) - set(_OP_RANK))}")
        latest = ranked.sort_values(
            [self.key, "timestamp", "_rank"], kind="mergesort"
        ).drop_duplicates(self.key, keep="last")
        deleted = latest.loc[latest["Op"] == "D", self.key]
        upserts = latest.loc[latest["Op"] != "D", self.columns].set_index(self.key, drop=False)
        kept = self.frame.drop(index=deleted, errors="ignore")
        kept = kept.drop(index=upserts.index, errors="ignore")
        self.frame = pd.concat([kept, upserts]) if len(kept) else upserts

    def rows(self) -> pd.DataFrame:
        return self.frame.reset_index(drop=True)


def _canon(series: pd.Series) -> pd.Series:
    """Map a column to strings that agree across pandas, pyarrow and
    Spark's ``toPandas`` representations of the same value."""
    if pd.api.types.is_datetime64_any_dtype(series):
        s = series.dt.tz_localize(None) if getattr(series.dt, "tz", None) else series
        return s.astype("datetime64[us]").astype("int64").astype(str)
    if pd.api.types.is_integer_dtype(series) or pd.api.types.is_bool_dtype(series):
        return series.astype("int64").astype(str)
    if pd.api.types.is_float_dtype(series):
        return series.map(lambda v: repr(round(float(v), 9)))

    def cell(v):
        if v is None or (isinstance(v, float) and np.isnan(v)):
            return "<null>"
        if isinstance(v, (pd.Timestamp, _dt.datetime)):
            ts = pd.Timestamp(v)
            ts = ts.tz_localize(None) if ts.tzinfo else ts
            return str(ts.value // 1000)
        if isinstance(v, _dt.date):
            return v.isoformat()
        if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
            return str(int(v))
        return str(v)

    return series.map(cell)


def state_hash(frame: pd.DataFrame, columns: list[str]) -> tuple[int, int]:
    """(row count, order-insensitive 64-bit hash) of ``frame[columns]``.
    Rows hash one by one and the hashes add modulo 2**64, so the result
    ignores row order but counts duplicate rows."""
    if frame.empty:
        return 0, 0
    canon = pd.DataFrame({c: _canon(frame[c]) for c in columns})
    per_row = pd.util.hash_pandas_object(canon, index=False).to_numpy(dtype=np.uint64)
    return len(frame), int(per_row.sum(dtype=np.uint64))


def duck_rows(sql: str, tables: dict[str, pd.DataFrame]) -> list[tuple]:
    """Run ``sql`` over pandas frames registered under the given names;
    rows as sorted tuples with integers as Python ints."""
    con = duckdb.connect()
    try:
        for name, frame in tables.items():
            con.register(name, frame)
        return normalize_rows(con.sql(sql).fetchall())
    finally:
        con.close()


def normalize_rows(rows) -> list[tuple]:
    def cell(v):
        if v is None:
            return None
        if isinstance(v, bool):
            return int(v)
        if isinstance(v, (int, np.integer)):
            return int(v)
        if isinstance(v, decimal.Decimal):
            return int(v) if v == int(v) else float(v)
        return v

    return sorted(tuple(cell(v) for v in row) for row in rows)
