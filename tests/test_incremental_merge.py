"""Partition-pruned incremental upsert: only affected day partitions
are rewritten; untouched partitions stay byte-identical on disk."""

from __future__ import annotations

import datetime
import glob
import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from asset_prices_parquet_saver_spark.schema import BAR_SCHEMA, LIVE_TRADE_SCHEMA
from asset_prices_parquet_saver_spark.sources.prices_daily import (
    merge_ticks_incremental,
    read_prices_daily,
    write_prices_daily,
)
from asset_prices_parquet_saver_spark.streaming.live import run_live_upsert


def _bar(source, symbol, day, close):
    return Row(
        source=source,
        symbol=symbol,
        timestamp=datetime.datetime(2024, 1, day),
        open=1.0,
        high=2.0,
        low=0.5,
        adj_close=close,
        volume=9.0,
        trade_count=3.0,
        vwap=1.4,
    )


def _tick(symbol, price, *dt):
    return Row(symbol=symbol, price=price, ts=datetime.datetime(*dt))


def _partition_state(path):
    return {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/source=*/day=*/*.parquet")
    }


def test_incremental_merge_touches_only_affected_partitions(spark, tmp_path):
    path = str(tmp_path / "daily")
    seed = [
        _bar("alpaca", "AAPL", d, 10.0 + d) for d in (2, 3, 4)
    ] + [_bar("yfinance", "AAPL", 2, 99.0)]
    write_prices_daily(spark.createDataFrame(seed, BAR_SCHEMA), path)
    before = _partition_state(path)
    assert len(before) >= 4  # 3 alpaca days + 1 yfinance day

    ticks = spark.createDataFrame(
        [
            _tick("AAPL", 42.0, 2024, 1, 3, 15, 0, 0),  # update existing day 3
            _tick("MSFT", 7.0, 2024, 1, 5, 10, 0, 0),  # new symbol, new day 5
        ],
        LIVE_TRADE_SCHEMA,
    )
    days = merge_ticks_incremental(spark, path, ticks, source="alpaca")
    assert sorted(str(d) for d in days) == ["2024-01-03", "2024-01-05"]

    after = _partition_state(path)
    untouched = {
        f: t for f, t in before.items() if "day=2024-01-03" not in f
    }
    for f, t in untouched.items():
        assert after.get(f) == t, f"partition {f} was rewritten"

    out = {
        (r.source, r.symbol, str(r.day)): r
        for r in read_prices_daily(spark, path).collect()
    }
    upd = out[("alpaca", "AAPL", "2024-01-03")]
    assert upd.adj_close == 42.0
    assert (upd.open, upd.volume) == (1.0, 9.0)  # other columns survive
    new = out[("alpaca", "MSFT", "2024-01-05")]
    assert new.adj_close == 7.0 and new.open is None  # NULL-padded
    assert out[("alpaca", "AAPL", "2024-01-02")].adj_close == 12.0  # untouched
    assert out[("yfinance", "AAPL", "2024-01-02")].adj_close == 99.0


def test_incremental_merge_first_write(spark, tmp_path):
    path = str(tmp_path / "fresh")
    ticks = spark.createDataFrame(
        [_tick("AAPL", 5.0, 2024, 2, 1, 9, 30, 0)], LIVE_TRADE_SCHEMA
    )
    merge_ticks_incremental(spark, path, ticks)
    rows = read_prices_daily(spark, path).collect()
    assert len(rows) == 1 and rows[0].adj_close == 5.0


def test_merge_into_file_uri_dataset_keeps_existing_bars(spark, tmp_path):
    """A ``file://`` URI names an existing dataset too: the merge must
    read the touched day, not take it for a first write and replace the
    partition with the batch alone."""
    path = (tmp_path / "daily").as_uri()
    seed = [_bar("alpaca", "AAPL", 2, 10.0), _bar("alpaca", "MSFT", 2, 20.0)]
    write_prices_daily(spark.createDataFrame(seed, BAR_SCHEMA), path)
    ticks = spark.createDataFrame(
        [_tick("AAPL", 11.0, 2024, 1, 2, 15, 0, 0)], LIVE_TRADE_SCHEMA
    )
    merge_ticks_incremental(spark, path, ticks)
    out = {r.symbol: r for r in read_prices_daily(spark, path).collect()}
    assert set(out) == {"AAPL", "MSFT"}
    assert (out["AAPL"].adj_close, out["AAPL"].open) == (11.0, 1.0)
    assert out["MSFT"].adj_close == 20.0


def test_incremental_streaming_end_to_end(spark, tmp_path):
    """The live stream's partition-pruned merge keeps the latest tick per
    (symbol, day) and the seeded bar's open."""
    path = str(tmp_path / "daily")
    ticks_dir = tmp_path / "ticks"
    ticks_dir.mkdir()
    write_prices_daily(
        spark.createDataFrame([_bar("alpaca", "AAPL", 2, 10.0)], BAR_SCHEMA), path
    )
    batch = spark.createDataFrame(
        [
            _tick("AAPL", 11.0, 2024, 1, 2, 15, 0, 0),
            _tick("AAPL", 9.0, 2024, 1, 2, 9, 0, 0),  # earlier, must lose
        ],
        LIVE_TRADE_SCHEMA,
    )
    batch.coalesce(1).write.mode("append").parquet(str(ticks_dir))
    q = run_live_upsert(
        spark,
        spark.readStream.schema(LIVE_TRADE_SCHEMA).parquet(str(ticks_dir)),
        path,
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    rows = {
        (r.symbol, str(r.day)): r for r in read_prices_daily(spark, path).collect()
    }
    assert rows[("AAPL", "2024-01-02")].adj_close == 11.0
    assert rows[("AAPL", "2024-01-02")].open == 1.0


def test_corrupt_store_raises_instead_of_rebuilding(spark, tmp_path):
    """A store that EXISTS but cannot be read must raise — treating it
    as a first write would silently drop all history."""
    import pytest

    path = str(tmp_path / "prices_corrupt")
    os.makedirs(os.path.join(path, "source=alpaca", "day=2024-01-02"))
    with open(
        os.path.join(path, "source=alpaca", "day=2024-01-02", "part-0.parquet"),
        "wb",
    ) as fh:
        fh.write(b"this is not a parquet file")
    ticks = spark.createDataFrame(
        [_tick("AAPL", 101.0, 2024, 1, 2, 10, 0, 0)], LIVE_TRADE_SCHEMA
    )
    with pytest.raises(Exception, match="(?i)parquet|footer|corrupt|schema"):
        merge_ticks_incremental(spark, path, ticks)


def test_missing_or_empty_dir_is_first_write(spark, tmp_path):
    path = str(tmp_path / "prices_fresh")
    os.makedirs(path)  # exists but empty -> still a first write
    ticks = spark.createDataFrame(
        [_tick("AAPL", 101.0, 2024, 1, 2, 10, 0, 0)], LIVE_TRADE_SCHEMA
    )
    assert merge_ticks_incremental(spark, path, ticks) != []
    rows = spark.read.parquet(path).collect()
    assert len(rows) == 1 and rows[0]["adj_close"] == 101.0
