"""Seeded change-stream generator for the reference's ``game`` database.

Schemas and value domains follow FIXTURES.md: four business tables,
an initial-load snapshot of each, and CDC batches wrapped in the DMS
envelope (``Op`` in I/U/D, ``timestamp`` the change time).

- ``user_data``: Op mix I 46 / U 52 / D 2 per 100 rows.
- ``item_data``: partitioned by ``category``; 13 rows per 100 re-update
  keys already in the batch, each at a later, distinct timestamp, and
  the other rows follow the mix I 44 / U 53 / D 3.
- ``play_data`` and ``purchase_data``: insert-only.

Deletes pick live keys from earlier batches, so keys whose latest op is
D cross batch boundaries. Every value comes from ``numpy`` generators
seeded by ``(seed, table, batch)``, and parquet is written with fixed
writer settings, so one seed gives byte-identical files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("user_data", "item_data", "play_data", "purchase_data")
KEYS = {
    "user_data": "user_id",
    "item_data": "item_id",
    "play_data": "play_id",
    "purchase_data": "purchase_id",
}
CATEGORIES = ("sword", "shield", "bow", "staff", "etc")
DOMAINS = ("gmail", "yahoo", "hotmail", "outlook", "icloud")
_ALNUM = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789"))

_US = 1_000_000
_EPOCH = datetime(1970, 1, 1)


def _micros(dt: datetime) -> int:
    return int((dt - _EPOCH).total_seconds()) * _US


_FIRST_LOGIN_LO = _micros(datetime(2023, 3, 1))
_LAST_LOGIN_HI = _micros(datetime(2023, 8, 30, 21, 4, 4))
_DOB_LO = (datetime(1980, 1, 1) - _EPOCH).days
_DOB_HI = (datetime(2008, 12, 31) - _EPOCH).days
# CDC batch i carries change times in hour i after this instant.
_CDC_T0 = _micros(datetime(2023, 9, 1))

SCHEMAS = {
    "user_data": pa.schema([
        ("user_id", pa.int64()), ("email", pa.string()), ("dob", pa.date32()),
        ("gender", pa.string()), ("cur_level", pa.int64()),
        ("marketing_agreement", pa.string()),
        ("first_login", pa.timestamp("us")), ("last_login", pa.timestamp("us")),
    ]),
    "item_data": pa.schema([
        ("item_id", pa.int64()), ("item_name", pa.string()),
        ("category", pa.string()), ("price", pa.int64()),
    ]),
    "play_data": pa.schema([
        ("play_id", pa.int64()), ("user_id", pa.int64()), ("device", pa.string()),
        ("item_used", pa.string()), ("game_mode", pa.int64()),
        ("time_spent", pa.int64()), ("MultiPoints", pa.int64()),
        ("got_target", pa.int64()),
    ]),
    "purchase_data": pa.schema([
        ("purchase_id", pa.int64()), ("user_id", pa.int64()),
        ("purchased_item", pa.string()), ("category", pa.string()),
        ("num_item_purchased", pa.int64()),
    ]),
}
ENVELOPE = [("Op", pa.string()), ("timestamp", pa.timestamp("us"))]


def cdc_schema(table: str) -> pa.Schema:
    return pa.schema(ENVELOPE + list(SCHEMAS[table]))


@dataclass(frozen=True)
class Sizes:
    """Row counts: ``scale`` multiplies the demo snapshot (10k users,
    140 items, 30k plays, 30k purchases); ``batch_rows`` is the CDC batch
    size of every table."""

    scale: float = 1.0
    batch_rows: int = 100

    def initial_rows(self, table: str) -> int:
        base = {"user_data": 10_000, "item_data": 140,
                "play_data": 30_000, "purchase_data": 30_000}[table]
        return max(1, int(round(base * self.scale)))


def _mix(n: int, parts: tuple[int, ...]) -> list[int]:
    """Split ``n`` rows by the per-100 shares in ``parts``; the last
    share takes the rounding remainder."""
    counts = [int(n * p // 100) for p in parts[:-1]]
    return counts + [n - sum(counts)]


def _category_of(item_id: np.ndarray) -> np.ndarray:
    return np.array(CATEGORIES, dtype=object)[(item_id - 1) % len(CATEGORIES)]


def _item_names(item_id: np.ndarray) -> np.ndarray:
    cats = _category_of(item_id)
    return np.array([f"{c}_{(i - 1) // len(CATEGORIES) + 1}" for c, i in zip(cats, item_id)],
                    dtype=object)


class GameStream:
    """The seeded initial snapshot and CDC batches of one run.

    Batches depend on the keys live after the previous batch, so call
    :meth:`batch` with ``i = 1, 2, ...`` in order."""

    def __init__(self, seed: int, sizes: Sizes = Sizes()) -> None:
        self.seed = seed
        self.sizes = sizes
        self._next_batch = 1
        n = {t: sizes.initial_rows(t) for t in TABLES}
        self._live = {
            "user_data": np.arange(1, n["user_data"] + 1, dtype=np.int64),
            "item_data": np.arange(1, n["item_data"] + 1, dtype=np.int64),
        }
        self._next_id = {t: n[t] + 1 for t in TABLES}

    def _rng(self, table: str, batch: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, TABLES.index(table), batch])

    # -- row builders -------------------------------------------------------

    def _users(self, rng, ids: np.ndarray) -> dict:
        n = len(ids)
        letters = _ALNUM[rng.integers(0, len(_ALNUM), size=(n, 20))]
        domains = np.array(DOMAINS, dtype=object)[rng.integers(0, len(DOMAINS), n)]
        first = rng.integers(_FIRST_LOGIN_LO, _LAST_LOGIN_HI, n)
        return {
            "user_id": ids,
            "email": ["".join(row) + f"@{d}.com" for row, d in zip(letters, domains)],
            "dob": rng.integers(_DOB_LO, _DOB_HI + 1, n).astype("int32"),
            "gender": np.array(["m", "f"], dtype=object)[rng.integers(0, 2, n)],
            "cur_level": rng.integers(1, 21, n),
            "marketing_agreement": np.array(["y", "n"], dtype=object)[rng.integers(0, 2, n)],
            "first_login": first,
            "last_login": first + ((_LAST_LOGIN_HI - first) * rng.random(n)).astype(np.int64),
        }

    def _items(self, rng, ids: np.ndarray) -> dict:
        return {
            "item_id": ids,
            "item_name": _item_names(ids),
            "category": _category_of(ids),
            "price": rng.integers(10, 101, len(ids)),
        }

    def _item_names_pool(self, rng, n: int) -> np.ndarray:
        live = self._live["item_data"]
        return _item_names(live[rng.integers(0, len(live), n)])

    def _plays(self, rng, ids: np.ndarray) -> dict:
        n = len(ids)
        users = self._live["user_data"]
        return {
            "play_id": ids,
            "user_id": users[rng.integers(0, len(users), n)],
            "device": np.array(["pc", "mobile"], dtype=object)[rng.integers(0, 2, n)],
            "item_used": self._item_names_pool(rng, n),
            "game_mode": rng.integers(1, 4, n),
            "time_spent": rng.integers(0, 10_001, n),
            "MultiPoints": rng.integers(0, 10, n),
            "got_target": rng.integers(0, 5, n),
        }

    def _purchases(self, rng, ids: np.ndarray) -> dict:
        n = len(ids)
        users = self._live["user_data"]
        items = self._live["item_data"][rng.integers(0, len(self._live["item_data"]), n)]
        return {
            "purchase_id": ids,
            "user_id": users[rng.integers(0, len(users), n)],
            "purchased_item": _item_names(items),
            "category": _category_of(items),
            "num_item_purchased": rng.integers(1, 121, n),
        }

    def _rows(self, table: str, rng, ids: np.ndarray) -> dict:
        if table == "user_data":
            return self._users(rng, ids)
        if table == "item_data":
            return self._items(rng, ids)
        if table == "play_data":
            return self._plays(rng, ids)
        return self._purchases(rng, ids)

    # -- public -------------------------------------------------------------

    def initial(self) -> dict[str, pa.Table]:
        out = {}
        for t in TABLES:
            rng = self._rng(t, 0)
            ids = np.arange(1, self.sizes.initial_rows(t) + 1, dtype=np.int64)
            out[t] = pa.table(self._rows(t, rng, ids), schema=SCHEMAS[t])
        return out

    def _take_new_ids(self, table: str, n: int) -> np.ndarray:
        start = self._next_id[table]
        self._next_id[table] = start + n
        return np.arange(start, start + n, dtype=np.int64)

    def _keyed_batch(self, table: str, rng, mix: tuple[int, int, int], dups: int) -> pa.Table:
        """I/U/D rows over live keys, plus ``dups`` later re-updates of
        keys already in the batch."""
        n = self.sizes.batch_rows
        n_dup = int(n * dups // 100)
        n_ins, n_upd, n_del = _mix(n - n_dup, mix)
        live = self._live[table]
        picked = rng.choice(len(live), size=min(len(live), n_upd + n_del), replace=False)
        upd, dele = live[picked[:n_upd]], live[picked[n_upd:]]
        ins = self._take_new_ids(table, n_ins)
        ids = np.concatenate([ins, upd, dele])
        ops = np.array(["I"] * len(ins) + ["U"] * len(upd) + ["D"] * len(dele), dtype=object)
        if n_dup:
            again = ids[: len(ins) + len(upd)]
            ids = np.concatenate([ids, again[rng.choice(len(again), n_dup, replace=False)]])
            ops = np.concatenate([ops, np.array(["U"] * n_dup, dtype=object)])
        cols = self._rows(table, rng, ids)
        if table == "user_data":
            # New users start at level 1.
            cols["cur_level"] = np.where(np.isin(ids, ins), 1, cols["cur_level"])
        # Distinct change times per row; a duplicate key's re-update comes
        # after its first row because duplicates sit at the end.
        base = _CDC_T0 + (self._next_batch - 1) * 3600 * _US
        ts = base + np.arange(len(ids), dtype=np.int64) * _US
        alive = np.setdiff1d(np.concatenate([live, ins]), dele)
        self._live[table] = alive
        return pa.table({"Op": ops, "timestamp": ts, **cols}, schema=cdc_schema(table))

    def _insert_batch(self, table: str, rng) -> pa.Table:
        n = self.sizes.batch_rows
        ids = self._take_new_ids(table, n)
        base = _CDC_T0 + (self._next_batch - 1) * 3600 * _US
        cols = self._rows(table, rng, ids)
        return pa.table(
            {"Op": np.array(["I"] * n, dtype=object),
             "timestamp": base + np.arange(n, dtype=np.int64) * _US, **cols},
            schema=cdc_schema(table),
        )

    def batch(self, i: int) -> dict[str, pa.Table]:
        """CDC batch ``i`` of every table (``i`` starts at 1)."""
        if i != self._next_batch:
            raise ValueError(f"batches are generated in order; expected {self._next_batch}, got {i}")
        out = {
            "user_data": self._keyed_batch("user_data", self._rng("user_data", i), (46, 52, 2), 0),
            "item_data": self._keyed_batch("item_data", self._rng("item_data", i), (44, 53, 3), 13),
            "play_data": self._insert_batch("play_data", self._rng("play_data", i)),
            "purchase_data": self._insert_batch("purchase_data", self._rng("purchase_data", i)),
        }
        self._next_batch += 1
        return out


def write_parquet(table: pa.Table, path: str) -> int:
    """Write ``table`` with fixed settings; returns the file's size."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", write_statistics=True)
    return os.path.getsize(path)


def raw_path(raw_root: str, zone: str, table: str, name: str) -> str:
    """The engine's raw-zone layout ``<root>/<zone>/game/<table>/``."""
    return os.path.join(raw_root, zone, "game", table, name)
