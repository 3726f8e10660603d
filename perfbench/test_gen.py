"""The generator is a pure function of its seed.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from gen import EPOCH_US, EventGenerator, EventSpec, row_hash


def _stream(seed: int, spec: EventSpec = EventSpec()) -> list[pd.DataFrame]:
    g = EventGenerator(seed, spec)
    return [g.batch(500), g.batch(700, created_s=np.linspace(1.0, 2.0, 700)), g.batch(300)]


def test_same_seed_same_inputs():
    a, b = _stream(7), _stream(7)
    for x, y in zip(a, b):
        pd.testing.assert_frame_equal(x, y)


def test_different_seed_different_inputs():
    a, b = _stream(7), _stream(8)
    assert any(not x.equals(y) for x, y in zip(a, b))
    assert row_hash(pd.concat(a)) != row_hash(pd.concat(b))


def test_traffic_dimensions_hold():
    spec = EventSpec(dup_share=0.1, late_share=0.2, payload_bytes=32)
    batches = _stream(3, spec)
    rows = pd.concat(batches, ignore_index=True)
    fresh = rows.drop_duplicates("event_id")
    # event ids are dense across batches; duplicates re-send whole rows
    assert sorted(fresh["event_id"]) == list(range(len(fresh)))
    assert len(rows.drop_duplicates()) == len(fresh)
    assert abs((len(rows) - len(fresh)) / len(rows) - spec.dup_share) < 0.01
    payload = fresh["props"].str.extract(r'"p": "([0-9a-f]*)"')[0]
    assert (payload.str.len() == spec.payload_bytes).all()
    first = batches[0].drop_duplicates("event_id")
    ts_us = first["ts"].to_numpy("datetime64[us]").astype(np.int64)
    lag_us = EPOCH_US + first["event_id"].to_numpy() * 1000 - ts_us
    assert (lag_us >= 0).all() and (lag_us <= spec.late_max_s * 1e6).all()
    assert abs((lag_us > 0).mean() - spec.late_share) < 0.05


def test_bucket_skew_is_set_by_the_spec_not_the_seed():
    for seed in (1, 2):
        users = EventGenerator(seed).batch(20_000)["user_id"]
        shares = np.bincount(users % 4, minlength=4) / len(users)
        assert abs(shares.max() / 0.25 - 1.40) < 0.05


def test_default_props_match_the_events_table():
    props = _stream(4)[0]["props"]
    assert props.str.fullmatch(r'\{"k": \d{1,2}\}').all()


def test_row_hash_ignores_order_and_extra_columns():
    rows = _stream(5)[0]
    shuffled = rows.sample(frac=1.0, random_state=0).assign(seq=1, bucket=2)
    assert row_hash(shuffled) == row_hash(rows)
    assert row_hash(rows.iloc[1:]) != row_hash(rows)
