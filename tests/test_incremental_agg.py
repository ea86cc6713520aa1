"""Incremental daily-bar maintenance: equivalence to the batch
resample, exactly-once refresh under crash replay, compaction
invariance."""

from __future__ import annotations

import datetime as dt

import pytest

from asset_prices_parquet_saver_spark.operators import incremental_agg as ia
from asset_prices_parquet_saver_spark.sources import manifest


def _ticks(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, symbol string, price double"
    )


def _tick(i, minute, price, day=2, symbol="AAPL"):
    return (i, dt.datetime(2024, 1, day, 9, minute), symbol, price)


def _read(spark, table, version=None):
    return {
        (r["symbol"], str(r["day"])): (
            r["open"], r["high"], r["low"], r["close"], r["n_ticks"], r["notional"],
        )
        for r in ia.read_ohlc(spark, table, version=version).collect()
    }


def test_incremental_ohlc_equals_batch_resample(spark, tmp_path):
    """The flagship domain composition: daily bars maintained with
    O(batch) refreshes must equal the batch OHLC resample over all
    ticks ever ingested — across arbitrary batch splits, crash
    replays, and compaction."""
    from asset_prices_parquet_saver_spark.operators import analytics as an

    def t(day, minute):
        return dt.datetime(2024, 1, day, 9, minute)

    all_rows = [
        (1, t(2, 0), "AAPL", 10.0),
        (2, t(2, 5), "AAPL", 12.0),
        (3, t(2, 9), "AAPL", 8.0),
        (4, t(2, 30), "AAPL", 11.0),
        (5, t(3, 0), "AAPL", 20.0),
        (6, t(2, 1), "MSFT", 5.0),
        (7, t(2, 2), "MSFT", 6.0),
    ]
    # split mid-day: day 2 of AAPL spans both batches, so open comes
    # from batch 1 and close from batch 2 — the fold must re-select
    b1, b2 = all_rows[:3] + all_rows[5:6], all_rows[3:5] + all_rows[6:]
    table = str(tmp_path / "bars")
    ia.refresh_ohlc(_ticks(spark, b1), table, txn=("bars", 0))
    ia.refresh_ohlc(_ticks(spark, b2), table, txn=("bars", 1))
    ia.refresh_ohlc(_ticks(spark, b2), table, txn=("bars", 1))  # replay

    want = {
        (r["symbol"], str(r["day"])): (r["open"], r["high"], r["low"], r["close"], r["n_ticks"])
        for r in an.ohlc_bars(
            _ticks(spark, all_rows), key_col="symbol", ts_col="ts",
            price_col="price", id_col="event_id",
        ).collect()
    }
    got = {
        (r["symbol"], str(r["day"])): (r["open"], r["high"], r["low"], r["close"], r["n_ticks"])
        for r in ia.read_ohlc(spark, table).collect()
    }
    assert got == want
    assert got[("AAPL", "2024-01-02")] == (10.0, 12.0, 8.0, 11.0, 4)

    ia.compact_ohlc(spark, table)
    after = {
        (r["symbol"], str(r["day"])): (r["open"], r["high"], r["low"], r["close"], r["n_ticks"])
        for r in ia.read_ohlc(spark, table).collect()
    }
    assert after == want
    # notional (sum of traded prices) folds too (decimal-exact)
    vol = {r["symbol"]: r["notional"] for r in ia.read_ohlc(spark, table).filter("day = DATE '2024-01-02'").collect()}
    assert vol["AAPL"] == 41.0 and vol["MSFT"] == 11.0


def test_ohlc_fold_invariant_to_random_batch_splits(spark, tmp_path):
    """Monoid property under adversarial splits: ANY partition of the
    tick set into ordered batches must fold to the batch-resample
    bars — including duplicated timestamps (id tie-break) and days
    split across many batches."""
    from asset_prices_parquet_saver_spark.operators import analytics as an

    rows = [
        (i, dt.datetime(2024, 1, 2 + (i % 2), 9, i % 7, i % 3), "S", float((i * 37) % 50))
        for i in range(12)
    ]
    want = {
        (r["symbol"], str(r["day"])): (r["open"], r["high"], r["low"], r["close"], r["n_ticks"])
        for r in an.ohlc_bars(
            _ticks(spark, rows), key_col="symbol", ts_col="ts",
            price_col="price", id_col="event_id",
        ).collect()
    }
    # three deterministic adversarial splits
    splits = [
        [rows[:1], rows[1:2], rows[2:]],          # tiny first batches
        [rows[::2], rows[1::2]],                   # interleaved by id
        [rows[:6], rows[6:9], rows[9:], []],       # plus an empty batch
    ]
    for si, batches in enumerate(splits):
        table = str(tmp_path / f"bars{si}")
        for bi, b in enumerate(batches):
            if not b:
                continue
            ia.refresh_ohlc(_ticks(spark, b), table, txn=("t", bi))
        got = {
            (r["symbol"], str(r["day"])): (r["open"], r["high"], r["low"], r["close"], r["n_ticks"])
            for r in ia.read_ohlc(spark, table).collect()
        }
        assert got == want, f"split {si} diverged"


def test_refresh_is_o_batch_append(spark, tmp_path):
    table = str(tmp_path / "bars")
    ia.refresh_ohlc(_ticks(spark, [_tick(1, 0, 1.0)]), table, txn=("job", 0))
    segs_before = manifest._read_manifest(table)["segments"]
    ia.refresh_ohlc(_ticks(spark, [_tick(2, 1, 2.0)]), table, txn=("job", 1))
    segs_after = manifest._read_manifest(table)["segments"]
    # append-log: the old segments are untouched, exactly one is added
    assert segs_after[: len(segs_before)] == segs_before
    assert len(segs_after) == len(segs_before) + 1


def test_crash_replay_does_not_double_count(spark, tmp_path):
    table = str(tmp_path / "bars")
    b0 = _ticks(spark, [_tick(1, 0, 1.0), _tick(2, 0, 2.0, symbol="MSFT")])
    ia.refresh_ohlc(b0, table, txn=("job", 0))
    before = _read(spark, table)
    # foreachBatch replays the same epoch after a crash: must be a no-op
    ia.refresh_ohlc(b0, table, txn=("job", 0))
    assert _read(spark, table) == before


def test_compaction_preserves_results_and_folds_segments(spark, tmp_path):
    table = str(tmp_path / "bars")
    batches = [
        [_tick(1, 0, 1.0), _tick(2, 0, 2.0, symbol="MSFT")],
        [_tick(3, 5, 3.0)],
        [_tick(4, 5, 4.0, symbol="MSFT"), _tick(5, 0, 5.0, day=3)],
    ]
    for i, b in enumerate(batches):
        ia.refresh_ohlc(_ticks(spark, b), table, txn=("job", i))
    before = _read(spark, table)
    ia.compact_ohlc(spark, table)
    assert len(manifest._read_manifest(table)["segments"]) == 1
    assert _read(spark, table) == before
    # the log keeps accepting appends after compaction
    ia.refresh_ohlc(_ticks(spark, [_tick(6, 9, 10.0)]), table, txn=("job", 3))
    assert _read(spark, table)[("AAPL", "2024-01-02")] == (1.0, 10.0, 1.0, 10.0, 3, 14.0)


def test_time_travel_reads_old_rollup_state(spark, tmp_path):
    table = str(tmp_path / "bars")
    v0 = ia.refresh_ohlc(_ticks(spark, [_tick(1, 0, 1.0)]), table)
    ia.refresh_ohlc(_ticks(spark, [_tick(2, 5, 9.0)]), table)
    assert _read(spark, table, version=v0) == {
        ("AAPL", "2024-01-02"): (1.0, 1.0, 1.0, 1.0, 1, 1.0)
    }


def test_compaction_conflict_preserves_concurrent_epoch(spark, tmp_path, monkeypatch):
    """The lost-update race: an epoch appended between compaction's
    read and its rewrite must survive. compact_ohlc's pinned commit
    raises CommitConflict instead of folding the new epoch away while
    carrying its txn forward — the combination that made the loss
    unrecoverable under replay."""
    table = str(tmp_path / "bars")
    ia.refresh_ohlc(_ticks(spark, [_tick(1, 0, 1.0)]), table)
    ia.refresh_ohlc(_ticks(spark, [_tick(2, 1, 2.0)]), table)
    read_versioned = manifest.read_versioned

    def read_then_race(*args, **kwargs):
        log = read_versioned(*args, **kwargs)
        # a concurrent epoch lands between the compactor's read and publish
        monkeypatch.setattr(manifest, "read_versioned", read_versioned)
        ia.refresh_ohlc(_ticks(spark, [_tick(3, 2, 10.0)]), table, txn=("app", 3))
        return log

    monkeypatch.setattr(manifest, "read_versioned", read_then_race)
    with pytest.raises(manifest.CommitConflict):
        ia.compact_ohlc(spark, table)
    # nothing lost: the bars still include the concurrent epoch
    want = {("AAPL", "2024-01-02"): (1.0, 10.0, 1.0, 10.0, 3, 13.0)}
    assert _read(spark, table) == want
    # the next compaction folds the fresh state cleanly
    ia.compact_ohlc(spark, table)
    assert len(manifest._read_manifest(table)["segments"]) == 1
    assert _read(spark, table) == want
