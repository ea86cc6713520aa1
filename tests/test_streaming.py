"""Streaming tests (T1-T7; SURVEY §5.5): the live upsert pipeline driven
by a file micro-batch source with out-of-order and duplicate ticks."""

from __future__ import annotations

import datetime

from pyspark.sql import Row

from asset_prices_parquet_saver_spark.schema import BAR_SCHEMA, LIVE_TRADE_SCHEMA
from asset_prices_parquet_saver_spark.sources.prices_daily import (
    read_prices_daily,
    write_prices_daily,
)
from asset_prices_parquet_saver_spark.streaming.live import run_live_upsert


def _tick(symbol, price, *dt):
    return Row(symbol=symbol, price=price, ts=datetime.datetime(*dt))


def _seed(spark):
    return spark.createDataFrame(
        [
            Row(
                source="alpaca",
                symbol="AAPL",
                timestamp=datetime.datetime(2024, 1, 2),
                open=1.0,
                high=2.0,
                low=0.5,
                adj_close=1.5,
                volume=9.0,
                trade_count=3.0,
                vwap=1.4,
            )
        ],
        BAR_SCHEMA,
    )


def _write_batch(spark, ticks_dir):
    # micro-batch input: duplicate + out-of-order + invalid ticks
    batch = spark.createDataFrame(
        [
            _tick("AAPL", 10.0, 2024, 1, 2, 15, 0, 0),
            _tick("AAPL", 10.0, 2024, 1, 2, 15, 0, 0),  # exact duplicate
            _tick("AAPL", 7.0, 2024, 1, 2, 9, 0, 0),  # earlier, must lose
            _tick("MSFT", 5.0, 2024, 1, 3, 10, 0, 0),  # new symbol+day
            Row(symbol="BAD", price=None, ts=datetime.datetime(2024, 1, 2)),
        ],
        LIVE_TRADE_SCHEMA,
    )
    # part files must land at the streamed directory's top level — the
    # file-stream source does not recurse into subdirectories
    batch.coalesce(1).write.mode("append").parquet(str(ticks_dir))


def _assert_merged(out):
    aapl = out[("AAPL", datetime.date(2024, 1, 2))]
    assert aapl.adj_close == 10.0  # last-write-wins within the day
    assert (aapl.open, aapl.volume) == (1.0, 9.0)  # other columns preserved
    msft = out[("MSFT", datetime.date(2024, 1, 3))]
    assert msft.adj_close == 5.0 and msft.open is None  # NULL-padded append
    assert ("BAD", datetime.date(2024, 1, 2)) not in out  # P7 filter


def _run_live(spark, prices_path, ticks_dir, ckpt):
    stream = spark.readStream.schema(LIVE_TRADE_SCHEMA).parquet(str(ticks_dir))
    query = run_live_upsert(
        spark, stream, prices_path, checkpoint_dir=str(ckpt), available_now=True
    )
    query.awaitTermination(120)
    return {
        (r.symbol, r.timestamp.date()): r
        for r in read_prices_daily(spark, prices_path).collect()
    }


def test_streaming_upsert_end_to_end_daily_default(spark, tmp_path):
    """The live sink: partition-pruned incremental merge, dynamic
    partition overwrite commits only touched days."""
    prices_path = str(tmp_path / "prices")
    ticks_dir = tmp_path / "ticks"
    ticks_dir.mkdir()

    write_prices_daily(_seed(spark), prices_path)
    _write_batch(spark, ticks_dir)

    out = _run_live(spark, prices_path, ticks_dir, tmp_path / "ckpt")
    _assert_merged(out)
    # every row sits in the day partition of its own bar date
    assert all(r.day == d for (_, d), r in out.items())


def test_ingest_then_live_upsert_same_dataset(spark, tmp_path, monkeypatch):
    """The reference's workflow: ``live`` upserts into the very dataset
    ``ingest`` wrote (update_live_price.py:200-297 rewrites the files
    download_historical_price.py produced)."""
    from asset_prices_parquet_saver_spark import cli
    from asset_prices_parquet_saver_spark.sources import bars_datasource

    raw = spark.createDataFrame(
        [
            ("aapl", datetime.datetime(2024, 1, 2), 1.0, 2.0, 0.5, 1.5, 9.0),
            ("msft", datetime.datetime(2024, 1, 2), 3.0, 4.0, 2.5, 3.5, 7.0),
        ],
        "symbol string, timestamp timestamp, open double, high double, "
        "low double, close double, volume double",
    )
    monkeypatch.setattr(
        bars_datasource, "read_daily_bars", lambda spark, symbols, provider: raw
    )
    prices_path = str(tmp_path / "prices")
    rc = cli.main(
        ["ingest", "--source", "alpaca", "--symbols", "AAPL,MSFT", "--output", prices_path]
    )
    assert rc == 0

    ticks_dir = tmp_path / "ticks"
    ticks_dir.mkdir()
    _write_batch(spark, ticks_dir)
    out = _run_live(spark, prices_path, ticks_dir, tmp_path / "ckpt")
    _assert_merged(out)
    msft = out[("MSFT", datetime.date(2024, 1, 2))]
    assert (msft.open, msft.adj_close) == (3.0, 3.5)  # untouched by the batch


def test_flat_manifest_crash_recovery(spark, tmp_path):
    """A crashed writer leaves an orphan snapshot directory and the old
    manifest. Readers must keep serving the committed snapshot and the
    next commit must number PAST the orphan (never reuse its path) and
    garbage-collect it."""
    import os

    from asset_prices_parquet_saver_spark.sources import manifest

    prices_path = str(tmp_path / "prices")

    # committed seed at version 1
    seed = _seed(spark)
    manifest.commit_versioned(seed, prices_path)
    assert manifest.current_version(prices_path) == 1
    # simulate a writer that died mid-snapshot: orphan v7, stale files,
    # manifest still at 1
    orphan = os.path.join(prices_path, "v00000007")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-garbage.parquet"), "wb") as fh:
        fh.write(b"not parquet")
    # reader is unaffected by the orphan
    assert manifest.read_versioned(spark, prices_path, BAR_SCHEMA).count() == seed.count()

    bar = seed.first().asDict()
    grown = seed.unionByName(
        spark.createDataFrame(
            [{**bar, "timestamp": datetime.datetime(2024, 1, 3), "adj_close": 2.5}],
            BAR_SCHEMA,
        )
    )
    manifest.commit_versioned(grown, prices_path)

    out = {
        r.timestamp.date(): r.adj_close
        for r in manifest.read_versioned(spark, prices_path, BAR_SCHEMA).collect()
    }
    # seeded history survived AND the new commit applied
    assert out == {datetime.date(2024, 1, 2): 1.5, datetime.date(2024, 1, 3): 2.5}
    assert manifest.current_version(prices_path) == 8  # numbered past orphan
    assert not os.path.exists(orphan)  # orphan GC'd post-publish
