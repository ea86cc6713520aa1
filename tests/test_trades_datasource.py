"""Streaming Python DataSource for live trades: per-epoch determinism,
replay equivalence, and composition with the T7 dedupe stage."""

from __future__ import annotations

import time

import pytest

from asset_prices_parquet_saver_spark.streaming.trades_datasource import (
    LiveTradesDataSource,
    LiveTradesSimpleReader,
    _fake_epoch_ticks,
    _latest_trade_rows,
)


def test_reader_offsets_and_replay_are_exact():
    r = LiveTradesSimpleReader({"symbols": "AAPL,MSFT", "provider": "fake"})
    assert r.initialOffset() == {"epoch": 0}
    live = []
    off = r.initialOffset()
    for _ in range(3):
        rows, off = r.read(off)
        live.extend(rows)
    assert off == {"epoch": 3}
    replay = list(r.readBetweenOffsets({"epoch": 0}, {"epoch": 3}))
    assert replay == live  # crash replay regenerates byte-identical rows


def test_fake_ticks_shape():
    rows = list(_fake_epoch_ticks(["AAPL", "BRK.B"], 7))
    assert len(rows) == 2
    for sym, price, ts in rows:
        assert price > 0 and ts.minute == (30 + 7) % 60


def test_latest_trade_rows_map_price_and_timestamp():
    import datetime
    from types import SimpleNamespace

    ts = datetime.datetime(2024, 1, 2, 14, 30, tzinfo=datetime.timezone.utc)
    latest = {
        "AAPL": SimpleNamespace(price=187, timestamp=ts, size=100),
        "BRK.B": SimpleNamespace(price=362.5, timestamp=ts, size=5),
    }
    rows = _latest_trade_rows(latest)
    assert rows == [("AAPL", 187.0, ts), ("BRK.B", 362.5, ts)]
    assert type(rows[0][1]) is float


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(LiveTradesDataSource)
    return spark


def test_streaming_end_to_end_with_dedupe(registered, spark, tmp_path):
    from asset_prices_parquet_saver_spark.streaming.live import (
        dedupe_ticks_with_watermark,
    )

    ticks = (
        spark.readStream.format("live_trades")
        .option("symbols", "AAPL,MSFT")
        .option("provider", "fake")
        .load()
    )
    q = (
        dedupe_ticks_with_watermark(ticks)
        .writeStream.format("memory")
        .queryName("live_ticks")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            if len(q.recentProgress) >= 3:
                break
            time.sleep(1)
        assert len(q.recentProgress) >= 3
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM live_ticks").collect()
    assert {r.symbol for r in rows} == {"AAPL", "MSFT"}
    # one tick per (symbol, epoch-minute); epochs are distinct minutes
    assert len(rows) == len({(r.symbol, r.ts) for r in rows})
    assert len(rows) >= 4
