"""Seeded input generation for the perfbench workloads.

Everything here is plain numpy/pandas: the same seed gives the same base
table and the same sequence of deltas, byte for byte, and nothing in
this module touches Spark or the engine. The workloads write these
frames to parquet during set-up, so a timed operation only ever reads
pre-materialized inputs.

The pandas ``Model`` applies the same deltas with plain dataframe
operations. The final state it produces is the input of the
from-scratch rebuild that checks the engine's maintained state, so the
check does not depend on the engine's incremental upsert.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
RETURN_FLAGS = np.array(["A", "N", "R"])

_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def spark_bucket_of_long(keys: np.ndarray, n_buckets: int) -> np.ndarray:
    """``pmod(xxhash64(key), n_buckets)`` for BIGINT keys, as Spark
    computes it (XxHash64 of one 8-byte long, seed 42). Lets the
    generator aim deltas at chosen buckets without a Spark job; the
    benchmark's tests check it against Spark itself."""
    with np.errstate(over="ignore"):
        k = keys.astype(np.int64).view(np.uint64)
        h = np.full(k.shape, (42 + _P5 + 8) & _M64, dtype=np.uint64)
        k1 = _rotl(k * np.uint64(_P2), 31) * np.uint64(_P1)
        h = _rotl(h ^ k1, 27) * np.uint64(_P1) + np.uint64(_P4)
        h ^= h >> np.uint64(33)
        h *= np.uint64(_P2)
        h ^= h >> np.uint64(29)
        h *= np.uint64(_P3)
        h ^= h >> np.uint64(32)
    return np.mod(h.view(np.int64), n_buckets)


@dataclass
class Batch:
    """One delta: rows to upsert (full rows) and keys to delete."""
    upserts: pd.DataFrame
    deletes: pd.DataFrame

    @property
    def rows(self) -> int:
        return len(self.upserts) + len(self.deletes)

    def content_hash(self) -> str:
        """sha256 over a canonical CSV rendering, key-sorted — equal
        seeds must give equal hashes."""
        keys = list(self.deletes.columns)
        h = hashlib.sha256()
        for df in (self.upserts, self.deletes):
            h.update(df.sort_values(keys).to_csv(index=False).encode())
        return h.hexdigest()


class Model:
    """Reference state: a pandas frame indexed by the key columns, to
    which batches are applied with last-wins upsert and delete."""

    def __init__(self, base: pd.DataFrame, key_cols: tuple[str, ...]):
        self.key_cols = list(key_cols)
        self.df = base.set_index(self.key_cols)

    def apply(self, batch: Batch) -> None:
        gone = pd.MultiIndex.from_frame(
            pd.concat([batch.upserts[self.key_cols], batch.deletes]))
        if len(self.key_cols) == 1:
            gone = gone.get_level_values(0)
        kept = self.df[~self.df.index.isin(gone)]
        self.df = pd.concat([kept, batch.upserts.set_index(self.key_cols)])

    def frame(self) -> pd.DataFrame:
        return self.df.reset_index()


def _size_schedule(rng: np.random.Generator, n: int, lo: int, hi: int
                   ) -> list[int]:
    """Batch sizes in [lo, hi], in pairs that sum to lo + hi, so every
    even number of batches carries the same number of keys whatever the
    seed."""
    out: list[int] = []
    while len(out) < n:
        a = int(rng.integers(lo, hi + 1))
        out += [a, lo + hi - a]
    return out[:n]


# -- trickle_refresh: events, hot-bucket point deltas --------------------

def events(rng: np.random.Generator, n: int) -> pd.DataFrame:
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "user_id": rng.integers(0, max(1, n // 20), n, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": rng.integers(0, 50_000, n) / 100.0,
    })


#: share of a trickle delta's existing keys that come from the hot bucket
HOT_SHARE = 0.8


def trickle_batches(rng: np.random.Generator, base: pd.DataFrame,
                    n_batches: int, n_buckets: int) -> list[Batch]:
    """Deltas of 8-64 keys. ``HOT_SHARE`` of the keys come from one hot
    bucket fixed by the seed and the rest from one other bucket drawn
    per delta, so every delta touches exactly 2 buckets. One key in
    eight is a delete, and as many new keys are inserted as are
    deleted, so the table keeps its size."""
    n_users = max(1, len(base) // 20)
    hot = int(rng.integers(n_buckets))
    cold = np.setdiff1d(np.arange(n_buckets), [hot])
    ids = base["event_id"].to_numpy()
    live = {b: set(ids[spark_bucket_of_long(ids, n_buckets) == b].tolist())
            for b in range(n_buckets)}
    next_id = int(ids.max()) + 1
    out = []
    for size in _size_schedule(rng, n_batches, 8, 64):
        n_del = max(1, size // 8)
        buckets = [hot, int(rng.choice(cold))]
        n_old = size - n_del              # updated or deleted keys
        n_hot = int(round(n_old * HOT_SHARE))
        per = [n_hot, n_old - n_hot]
        old = rng.permutation(np.concatenate([
            rng.choice(np.fromiter(sorted(live[b]), np.int64), k,
                       replace=False) for b, k in zip(buckets, per)]))
        upd, dele = old[n_del:], old[:n_del]
        # each deleted key is replaced by a new key in its own bucket
        cand = np.arange(next_id, next_id + 64 * n_buckets, dtype=np.int64)
        cand_b = spark_bucket_of_long(cand, n_buckets)
        ins = np.array([cand[cand_b == b][j] for j, b in enumerate(
            spark_bucket_of_long(dele, n_buckets))], dtype=np.int64)
        next_id = int(cand.max()) + 1
        keys = np.concatenate([upd, ins])
        ups = pd.DataFrame({
            "event_id": keys,
            "user_id": rng.integers(0, n_users, len(keys), dtype=np.int64),
            "event_type": rng.choice(EVENT_TYPES, len(keys)),
            "value": rng.integers(0, 50_000, len(keys)) / 100.0,
        })
        for b in buckets:
            live[b].difference_update(dele.tolist())
        for k, b in zip(ins.tolist(), spark_bucket_of_long(ins, n_buckets)):
            live[int(b)].add(k)
        out.append(Batch(ups, pd.DataFrame({"event_id": dele})))
    return out


# -- churn_rebuild: lineitem, uniform churn over every bucket ------------

_LINES_PER_ORDER = 8


def _lineitem_rows(rng: np.random.Generator, ids: np.ndarray
                   ) -> pd.DataFrame:
    n = len(ids)
    return pd.DataFrame({
        "l_orderkey": (ids // _LINES_PER_ORDER).astype(np.int64),
        "l_linenumber": (ids % _LINES_PER_ORDER + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": rng.integers(100, 10_000_000, n) / 100.0,
        "l_returnflag": rng.choice(RETURN_FLAGS, n),
    })


def lineitem(rng: np.random.Generator, n: int) -> pd.DataFrame:
    return _lineitem_rows(rng, np.arange(n, dtype=np.int64))


#: shares of the live row count a churn delta upserts and deletes
UPSERT_SHARE, DELETE_SHARE = 0.05, 0.005


def churn_batches(rng: np.random.Generator, base: pd.DataFrame,
                  n_batches: int) -> list[Batch]:
    """Each delta upserts ``UPSERT_SHARE`` of the live row count and
    deletes ``DELETE_SHARE`` of it, keys drawn uniformly so every bucket
    is touched. The upserts rewrite existing rows and insert as many new
    rows as the delta deletes, so the table keeps its size."""
    live = set((base["l_orderkey"] * _LINES_PER_ORDER
                + base["l_linenumber"] - 1).tolist())
    next_id = max(live) + 1
    n = len(live)
    n_del = max(1, int(n * DELETE_SHARE))
    n_upd = max(1, int(n * UPSERT_SHARE)) - n_del
    out = []
    for _ in range(n_batches):
        ids = np.fromiter(sorted(live), dtype=np.int64)
        chosen = rng.choice(ids, n_upd + n_del, replace=False)
        upd, dele = chosen[:n_upd], chosen[n_upd:]
        ins = np.arange(next_id, next_id + n_del, dtype=np.int64)
        next_id += n_del
        ups = _lineitem_rows(rng, np.concatenate([upd, ins]))
        deletes = pd.DataFrame({
            "l_orderkey": (dele // _LINES_PER_ORDER).astype(np.int64),
            "l_linenumber": (dele % _LINES_PER_ORDER + 1).astype(np.int32)})
        live.difference_update(dele.tolist())
        live.update(ins.tolist())
        out.append(Batch(ups, deletes))
    return out
