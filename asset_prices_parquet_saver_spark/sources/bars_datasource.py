"""Daily-bars Python DataSource: the S1/S2 historical fetch.

The reference's bulk download is a driver-side asyncio loop over
symbol batches (download_historical_price.py:309-336). Here symbol
batches are planned ``InputPartition``s, so the cluster scheduler owns
the fan-out — 1000 executors each fetch their own slice, stragglers get
speculative retries, and the result is a plain DataFrame any
downstream operator composes with. ``cli ingest`` reads through
:func:`read_daily_bars`::

    spark.dataSource.register(DailyBarsDataSource)
    bars = (spark.read.format("daily_bars")
            .option("symbols", "AAPL,MSFT,BRK.B")
            .option("provider", "fake")          # alpaca | yfinance | fake
            .option("batch_size", "10")
            .load())

Providers:

- ``alpaca`` / ``yfinance`` — import-gated real clients (the request
  shapes of download_historical_price.py:404-414 and :463-483); without
  the SDK, :func:`_require` raises ``FetcherUnavailable``. Each SDK
  response maps to rows through one pure function
  (:func:`_alpaca_rows`, :func:`_yfinance_rows`), so only the SDK call
  itself is untested here;
- ``fake`` — a deterministic offline generator (md5-derived walk per
  symbol) that exercises the REAL DataSource machinery end-to-end:
  schema resolution, partition planning, per-partition readers, task
  retry idempotence (pure function of the partition).

Rate limits live inside each partition read: per-partition sleeps bound
each task's request rate, so the GLOBAL rate is capped by partitions ×
per-partition rate. ``delay_seconds`` defaults to the reference's
throttle per provider (:data:`_DEFAULT_DELAY`: 2 s before each
10-symbol Alpaca batch, download_historical_price.py:322-335; 0.5 s
before each yfinance symbol, :352); set it and ``batch_size`` to match
the account's limit.
"""

from __future__ import annotations

import hashlib

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
)

#: the one raw-bar schema every provider emits (normalize_bars input)
_BARS_DDL = (
    "symbol string, timestamp timestamp, open double, high double, "
    "low double, close double, adj_close double, volume double, "
    "trade_count double, vwap double"
)
_COLUMNS = [c.split()[0] for c in _BARS_DDL.split(", ")]

#: seconds slept before each request: one per Alpaca batch, one per
#: yfinance symbol (the reference's throttles)
_DEFAULT_DELAY = {"alpaca": 2.0, "yfinance": 0.5, "fake": 0.0}


class FetcherUnavailable(RuntimeError):
    """Raised when an optional network client library is not installed."""


def _require(module_name: str):
    try:
        return __import__(module_name)
    except ImportError as exc:  # pragma: no cover - env without the SDK
        raise FetcherUnavailable(
            f"{module_name} is not installed; use Parquet fixtures instead"
        ) from exc


def read_daily_bars(spark, symbols: list[str], provider: str):
    """Raw bars for ``symbols`` from ``provider`` through ``daily_bars``,
    one InputPartition per request batch. Registers the source and runs
    the SDK gate on the driver, so a missing client raises
    ``FetcherUnavailable`` here instead of failing inside a task."""
    if provider != "fake":
        _require(provider)  # each network provider's SDK shares its name
    spark.dataSource.register(DailyBarsDataSource)
    return (
        spark.read.format("daily_bars")
        .option("symbols", ",".join(symbols))
        .option("provider", provider)
        .load()
    )


def _rows(frame):
    """Raw-bar tuples from a frame carrying (a subset of) the schema's
    columns by name; absent columns and NaN become NULL."""
    import pandas as pd

    frame = frame.reindex(columns=_COLUMNS)
    for r in frame.itertuples(index=False, name=None):
        yield (
            r[0],
            pd.Timestamp(r[1]).to_pydatetime(),
            *(None if pd.isna(v) else float(v) for v in r[2:]),
        )


def _alpaca_rows(bars):
    """Alpaca's ``get_stock_bars(...).df`` — indexed by (symbol,
    timestamp) — as raw-bar rows. The request asks ``adjustment='all'``,
    so ``close`` is already adjusted and fills both close columns."""
    out = bars.reset_index()
    out["adj_close"] = out["close"]
    return _rows(out)


def _yfinance_rows(symbol: str, history):
    """One symbol's yfinance ``history(auto_adjust=False)`` frame —
    indexed by Date — as raw-bar rows, mapped by column NAME (the
    frame's column order varies: Dividends / Stock Splits may sit
    anywhere). The output keeps the canonical input ``symbol``."""
    out = history.reset_index().rename(
        columns={
            "Date": "timestamp",
            "Open": "open",
            "High": "high",
            "Low": "low",
            "Close": "close",
            "Adj Close": "adj_close",
            "Volume": "volume",
        }
    )
    out["symbol"] = symbol
    return _rows(out)


class SymbolBatch(InputPartition):
    """One planned fetch unit: a bounded list of symbols (the
    reference's request batch), serialized to the executor."""

    def __init__(self, symbols: list[str]):
        self.symbols = symbols


def _fake_bars(symbol: str, n_days: int):
    """Deterministic offline bars: an md5-driven walk seeded by
    (symbol, day) — pure, so task retries and repeated reads are
    byte-identical (the property the test asserts)."""
    import datetime

    base = 20.0 + (int(hashlib.md5(symbol.encode()).hexdigest()[:8], 16) % 1000) / 10.0
    price = base
    for d in range(n_days):
        h = int(
            hashlib.md5(f"{symbol}:{d}".encode()).hexdigest()[:8], 16
        )
        step = ((h % 401) - 200) / 100.0  # [-2.00, +2.00] cents-exact
        o = round(price, 2)
        c = round(max(price + step, 1.0), 2)
        hi, lo = max(o, c), min(o, c)
        price = c
        yield (
            symbol,
            datetime.datetime(2024, 1, 1) + datetime.timedelta(days=d),
            o,
            round(hi * 1.01, 2),
            round(lo * 0.99, 2),
            c,
            c,
            float(1000 + h % 9000),
            float(10 + h % 90),
            round((o + c) / 2.0, 2),
        )


class DailyBarsReader(DataSourceReader):
    def __init__(self, options):
        # DataSource options arrive lower-cased
        raw = options.get("symbols", "") or ""
        self.symbols = [s for s in (x.strip() for x in raw.split(",")) if s]
        if not self.symbols:
            raise ValueError(
                "daily_bars: option 'symbols' (comma-separated) is required"
            )
        self.provider = (options.get("provider") or "alpaca").lower()
        if self.provider not in _DEFAULT_DELAY:
            raise ValueError(f"daily_bars: unknown provider {self.provider!r}")
        self.batch_size = int(options.get("batch_size", 10))
        self.n_days = int(options.get("fake_days", 30))
        self.delay = float(
            options.get("delay_seconds", _DEFAULT_DELAY[self.provider])
        )

    def partitions(self):
        b = max(self.batch_size, 1)
        return [
            SymbolBatch(self.symbols[i : i + b])
            for i in range(0, len(self.symbols), b)
        ]

    def read(self, partition: SymbolBatch):
        if self.provider == "fake":
            for sym in partition.symbols:
                yield from _fake_bars(sym, self.n_days)
            return
        yield from self._read_network(partition)  # pragma: no cover - SDKs absent

    def _read_network(self, partition):  # pragma: no cover - needs SDK+network
        import time

        _require(self.provider)
        if self.provider == "alpaca":
            import datetime
            import os

            from alpaca.data.historical import StockHistoricalDataClient
            from alpaca.data.requests import StockBarsRequest
            from alpaca.data.timeframe import TimeFrame

            # standard alpaca-py env credentials; raising on absence
            # keeps ingest loud instead of writing an empty dataset
            client = StockHistoricalDataClient(
                os.environ["APCA_API_KEY_ID"], os.environ["APCA_API_SECRET_KEY"]
            )
            time.sleep(self.delay)
            bars = client.get_stock_bars(
                StockBarsRequest(
                    # Alpaca takes the dotted class-share form (BRK.B);
                    # an untranslated BRK-B 400s the whole batch
                    symbol_or_symbols=[s.replace("-", ".") for s in partition.symbols],
                    timeframe=TimeFrame.Day,
                    start=datetime.datetime(1970, 1, 1),
                    adjustment="all",
                    feed="sip",
                )
            ).df
            if not bars.empty:
                yield from _alpaca_rows(bars)
        else:
            import yfinance as yf

            for sym in partition.symbols:
                time.sleep(self.delay)
                # yfinance spells class shares BRK-B (the reference's
                # :459 rule); the dotted form returns an empty frame
                h = yf.Ticker(sym.replace(".", "-")).history(
                    period="max", auto_adjust=False
                )
                if not h.empty:
                    yield from _yfinance_rows(sym, h)


class DailyBarsDataSource(DataSource):
    """``spark.read.format("daily_bars")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "daily_bars"

    def schema(self) -> str:
        return _BARS_DDL

    def reader(self, schema) -> DataSourceReader:
        return DailyBarsReader(self.options)
