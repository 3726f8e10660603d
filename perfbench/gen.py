"""Seeded event generator for the benchmark workloads.

Every input the benchmark feeds the engine comes from here, and every
random choice comes from the ``seed`` the command line passes in: the
same seed yields byte-identical batches, a different seed different
ones. Rows have the topic message schema the ``ripple_topic`` source
serves (``event_id, ts, user_id, event_type, value, props``).

Traffic dimensions (recorded in every run's output). Where the repo
has a source for a value, the default follows it; the rest are
assumptions no in-repo data or public trace backs (``README.md``,
"Generator", says which metrics depend on them):

- ``zipf_s``: exponent of the finite Zipf law over ``n_users`` keys.
  Keys route to buckets as ``pmod(user_id, n_buckets)``, and the key
  of rank ``r`` is user ``r - 1``, so the hottest keys go round-robin
  over the buckets and the exponent alone sets the bucket skew (1.40
  max/mean over 4 buckets at 1.1), the same for every seed. *Assumed*:
  the repo's own events table has near-uniform keys.
- ``n_users``: as in the sf0.1 events table (1500).
- ``dup_share``: share of rows that re-send an earlier event verbatim
  (same ``event_id`` and ``ts``) -- an at-least-once producer retry.
  *Assumed*: the events table holds no duplicates.
- ``late_share`` / ``late_max_s``: share of rows whose event time lags
  their creation by up to ``late_max_s`` seconds (out of order, but
  inside the streaming watermark). The share is *assumed* (the events
  table is in order); the lag is half of ``dedup_stream``'s 10-minute
  watermark, so no row drops.
- ``payload_bytes``: size of an opaque hex payload added to ``props``.
  0, as in the events table, whose ``props`` is ``{"k": <0..99>}``.
"""

from __future__ import annotations

import dataclasses

import numpy as np
import pandas as pd

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
# Event-time origin: creation offset 0 maps to this instant (UTC).
EPOCH_US = int(pd.Timestamp("2024-01-01").value // 1000)


@dataclasses.dataclass(frozen=True)
class EventSpec:
    zipf_s: float = 1.1
    n_users: int = 1500
    dup_share: float = 0.02
    late_share: float = 0.05
    late_max_s: float = 300.0
    payload_bytes: int = 0


class EventGenerator:
    """Stateful batch source: ``event_id`` is dense across batches and
    duplicates re-send rows of the previous or current batch."""

    def __init__(self, seed: int, spec: EventSpec = EventSpec()):
        self.spec = spec
        self._rng = np.random.default_rng(seed)
        ranks = np.arange(1, spec.n_users + 1, dtype=np.float64)
        p = ranks ** -spec.zipf_s
        self._key_p = p / p.sum()
        self._next_id = 0
        self._prev: pd.DataFrame | None = None

    def batch(self, n: int, created_s: float | np.ndarray | None = None) -> pd.DataFrame:
        """``n`` rows. ``created_s`` gives the fresh rows' creation
        offset in seconds (event time before lateness), one for all or
        one per row; default: one row per millisecond after the
        previous batch."""
        rng, spec = self._rng, self.spec
        n_dup = int(round(n * spec.dup_share))
        n_new = n - n_dup
        ids = np.arange(self._next_id, self._next_id + n_new, dtype=np.int64)
        self._next_id += n_new
        if created_s is None:
            created_s = ids / 1000.0
        created_s = np.asarray(created_s, dtype=np.float64)
        created_s = np.full(n_new, created_s) if created_s.ndim == 0 else created_s[:n_new]
        late = rng.random(n_new) < spec.late_share
        lag_s = np.where(late, rng.random(n_new) * spec.late_max_s, 0.0)
        ts_us = EPOCH_US + np.round((created_s - lag_s) * 1e6).astype(np.int64)
        hexes = rng.bytes(n_new * spec.payload_bytes // 2).hex()
        w = spec.payload_bytes
        fresh = pd.DataFrame(
            {
                "event_id": ids,
                "ts": pd.to_datetime(ts_us, unit="us"),
                "user_id": rng.choice(spec.n_users, size=n_new, p=self._key_p).astype(np.int64),
                "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_new)],
                "value": np.round(rng.random(n_new) * 500.0, 2),
                "props": [
                    f'{{"k": {k}, "p": "{hexes[i * w:(i + 1) * w]}"}}' if w else f'{{"k": {k}}}'
                    for i, k in enumerate(rng.integers(0, 100, n_new))
                ],
            }
        )
        pool = fresh if self._prev is None else pd.concat([self._prev, fresh])
        dups = pool.iloc[rng.integers(0, len(pool), n_dup)] if n_dup else pool.iloc[:0]
        out = pd.concat([fresh, dups], ignore_index=True)
        out = out.iloc[rng.permutation(len(out))].reset_index(drop=True)
        self._prev = fresh
        return out


def row_hash(df: pd.DataFrame) -> int:
    """Order-independent content hash of message rows (sum of per-row
    hashes mod 2**64) over the generated columns only."""
    norm = pd.DataFrame(
        {
            "event_id": df["event_id"].to_numpy(np.int64),
            "ts": df["ts"].to_numpy("datetime64[us]").astype(np.int64),
            "user_id": df["user_id"].to_numpy(np.int64),
            "event_type": df["event_type"].astype(object).to_numpy(),
            "value": df["value"].to_numpy(np.float64),
            "props": df["props"].astype(object).to_numpy(),
        }
    )
    h = pd.util.hash_pandas_object(norm, index=False).to_numpy(np.uint64)
    return int(h.sum(dtype=np.uint64))
