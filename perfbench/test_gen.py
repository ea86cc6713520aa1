"""The seeded inputs: the same seed gives the same data, the tick stream
holds every anomaly class, and the pandas last-write-wins reference is
computed alongside."""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd
import pyarrow.parquet as pq

import gen

BATCHES = 6


def _slot_start(ticks: gen.TickStream, b: int) -> pd.Timestamp:
    day = gen.HISTORY_END + dt.timedelta(days=1 + b // ticks.batches_per_day)
    return pd.Timestamp(day) + pd.Timedelta(hours=9 + 2 * (b % ticks.batches_per_day))


def test_same_seed_same_inputs(work):
    a, b, other = gen.TickStream(7), gen.TickStream(7), gen.TickStream(8)
    for i in range(BATCHES):
        pd.testing.assert_frame_equal(a.batch(i), b.batch(i))
    assert not other.batch(0).equals(a.batch(0))
    pd.testing.assert_frame_equal(gen.history(7), gen.history(7))

    for seed, sub in ((3, "a"), (3, "b"), (4, "c")):
        gen.write_corpus(seed, os.path.join(work, "star", sub))
    for t in gen.TABLES:
        read = [pq.read_table(os.path.join(work, "star", s, f"{t}.parquet")) for s in "abc"]
        assert read[0].equals(read[1])
        assert not read[0].equals(read[2])


def test_every_anomaly_class_is_present():
    ticks = gen.TickStream(7)
    for b in range(BATCHES):
        f = ticks.batch(b)
        start = _slot_start(ticks, b)
        assert f["price"].isna().any(), "NULL prices"
        assert not f["ts"].is_monotonic_increasing, "out-of-order ticks"
        assert f.duplicated(["symbol", "ts"]).any(), "duplicate (symbol, ts)"
        late = start - f["ts"]
        assert late.between(pd.Timedelta(hours=12), pd.Timedelta(hours=20)).any(), \
            "late ticks inside the 1-day watermark"
        assert (late >= pd.Timedelta(days=4)).any(), "late ticks beyond the watermark"
        if b:
            prev = ticks.batch(b - 1)
            again = f.merge(prev, on=["symbol", "ts", "price", "tick_id"])
            assert len(again) >= 1, "retransmitted tick from the previous batch"


def test_reference_is_last_write_wins():
    hist = gen.history(7)
    ticks = gen.TickStream(7)
    frames = [ticks.batch(b) for b in range(BATCHES)]
    final, accepted, touched, dropped = gen.reference_upsert(hist, frames)

    assert dropped > 0
    assert accepted["price"].notna().all()
    assert not accepted.duplicated(["symbol", "ts"]).any()
    assert len(touched) == BATCHES

    day = final["timestamp"].dt.date
    assert not pd.concat([final["symbol"], day], axis=1).duplicated().any()
    assert len(final) > len(hist)
    close = dict(zip(zip(final["symbol"], day), final["adj_close"]))
    for key, price in touched[-1].items():
        assert close[key] == price
    # days the stream never touched keep their history bar
    hist_close = dict(zip(zip(hist["symbol"], hist["timestamp"].dt.date), hist["adj_close"]))
    untouched = set(hist_close) - set().union(*touched)
    assert untouched
    assert all(close[key] == hist_close[key] for key in untouched)
