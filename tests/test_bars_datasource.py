"""Python DataSource for daily bars (S1/S2, what ``cli ingest`` reads):
partition planning, determinism, composition with the normalizer, the
per-provider throttles, and the SDK-response → row mappings."""

from __future__ import annotations

import pytest

from asset_prices_parquet_saver_spark.sources.bars_datasource import (
    DailyBarsDataSource,
    DailyBarsReader,
    _alpaca_rows,
    _yfinance_rows,
    read_daily_bars,
)


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(DailyBarsDataSource)
    return spark


def _read(spark, symbols, **opts):
    r = (
        spark.read.format("daily_bars")
        .option("symbols", symbols)
        .option("provider", "fake")
    )
    for k, v in opts.items():
        r = r.option(k, str(v))
    return r.load()


def test_fake_provider_schema_and_rows(registered, spark):
    df = _read(spark, "AAPL,MSFT,BRK.B", fake_days=5)
    assert [f.name for f in df.schema.fields] == [
        "symbol", "timestamp", "open", "high", "low", "close",
        "adj_close", "volume", "trade_count", "vwap",
    ]
    rows = df.collect()
    assert len(rows) == 15  # 3 symbols × 5 days
    assert {r.symbol for r in rows} == {"AAPL", "MSFT", "BRK.B"}
    for r in rows:
        assert r.high >= max(r.open, r.close) - 1e-9
        assert r.low <= min(r.open, r.close) + 1e-9


def test_partition_planning_matches_batch_size(registered, spark):
    # 5 symbols, batch_size 2 → 3 planned partitions → 3 Spark tasks
    df = _read(spark, "A,B,C,D,E", batch_size=2, fake_days=1)
    assert df.rdd.getNumPartitions() == 3
    assert df.count() == 5


def test_reads_are_deterministic(registered, spark):
    a = sorted(map(tuple, _read(spark, "AAPL,MSFT", fake_days=10).collect()))
    b = sorted(map(tuple, _read(spark, "AAPL,MSFT", fake_days=10).collect()))
    assert a == b  # pure partition function → retry/replay identical


def test_composes_with_normalizer(registered, spark):
    from asset_prices_parquet_saver_spark.operators.normalize import (
        normalize_bars,
    )

    raw = _read(spark, "AAPL", fake_days=3)
    out = normalize_bars(raw.withColumnRenamed("adj_close", "Adj Close"), source="fake")
    assert out.count() == 3
    assert "adj_close" in out.columns


def test_missing_symbols_option_is_loud(registered, spark):
    with pytest.raises(Exception, match="symbols"):
        (
            spark.read.format("daily_bars")
            .option("provider", "fake")
            .load()
            .count()
        )


@pytest.mark.parametrize(
    "provider, delay", [("alpaca", 2.0), ("yfinance", 0.5), ("fake", 0.0)]
)
def test_default_delay_is_the_reference_throttle(provider, delay):
    # 2 s before each 10-symbol Alpaca batch, 0.5 s before each
    # yfinance symbol (download_historical_price.py:322-335, :352)
    r = DailyBarsReader({"symbols": "A", "provider": provider})
    assert r.delay == delay
    assert DailyBarsReader(
        {"symbols": "A", "provider": provider, "delay_seconds": "0.25"}
    ).delay == 0.25


def test_alpaca_rows_map_adjusted_close_and_pass_extras():
    import pandas as pd

    ts = pd.Timestamp("2024-01-02 05:00", tz="UTC")
    bars = pd.DataFrame(
        {
            "open": [1.0, 3.0],
            "high": [2.0, 4.0],
            "low": [0.5, 2.5],
            "close": [1.5, 3.5],
            "volume": [900, 700],
            "trade_count": [12.0, float("nan")],
            "vwap": [1.25, 3.25],
        },
        index=pd.MultiIndex.from_tuples(
            [("AAPL", ts), ("BRK.B", ts)], names=["symbol", "timestamp"]
        ),
    )
    rows = list(_alpaca_rows(bars))
    assert rows == [
        ("AAPL", ts.to_pydatetime(), 1.0, 2.0, 0.5, 1.5, 1.5, 900.0, 12.0, 1.25),
        ("BRK.B", ts.to_pydatetime(), 3.0, 4.0, 2.5, 3.5, 3.5, 700.0, None, 3.25),
    ]
    assert all(type(v) is float for v in rows[0][2:])


def test_yfinance_rows_map_by_column_name():
    import pandas as pd

    days = pd.DatetimeIndex(
        ["2024-01-02", "2024-01-03"], tz="America/New_York", name="Date"
    )
    # Dividends / Stock Splits BEFORE Adj Close: a positional mapping
    # would read a dividend as the adjusted close
    hist = pd.DataFrame(
        {
            "Open": [10.0, 11.0],
            "High": [12.0, 13.0],
            "Low": [9.0, 10.0],
            "Close": [11.0, 12.0],
            "Dividends": [0.0, 0.24],
            "Stock Splits": [0.0, 0.0],
            "Adj Close": [10.5, 11.6],
            "Volume": [100, 200],
        },
        index=days,
    )
    rows = list(_yfinance_rows("BRK.B", hist))
    assert [r[0] for r in rows] == ["BRK.B", "BRK.B"]
    assert [r[1] for r in rows] == [d.to_pydatetime() for d in days]
    assert [r[2:] for r in rows] == [
        (10.0, 12.0, 9.0, 11.0, 10.5, 100.0, None, None),
        (11.0, 13.0, 10.0, 12.0, 11.6, 200.0, None, None),
    ]


def test_read_daily_bars_plans_one_partition_per_batch(spark):
    df = read_daily_bars(spark, [f"S{i}" for i in range(21)], "fake")
    assert df.rdd.getNumPartitions() == 3  # batches of 10, 10, 1
    assert df.count() == 21 * 30
