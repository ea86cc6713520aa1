"""Network bar/symbol sources (S1-S5, SURVEY §2.1) — import-gated.

The reference fetches from Alpaca REST/SDK, yfinance, and EODHD
(download_historical_price.py:404-414, :463-483, :166-203;
update_live_price.py:126-157). Those SDKs are not installed here and the
correctness harness runs on Parquet fixtures, so each fetcher:

- raises ``FetcherUnavailable`` when its client library is missing;
- otherwise fetches *on the executors* via ``mapInPandas`` over a
  symbol DataFrame (partition-parallel, rate-limited per partition) and
  returns a raw bars DataFrame for operators.normalize.normalize_bars.

This keeps the fetch stage a real distributed source at cluster scale
(1000 executors fetch their own symbol slices) instead of the
reference's two-OS-thread fan-out (download_historical_price.py:309-312).
"""

from __future__ import annotations

import time
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T


class FetcherUnavailable(RuntimeError):
    """Raised when an optional network client library is not installed."""


RAW_BAR_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType(), False),
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("open", T.DoubleType(), True),
        T.StructField("high", T.DoubleType(), True),
        T.StructField("low", T.DoubleType(), True),
        T.StructField("close", T.DoubleType(), True),
        T.StructField("adj_close", T.DoubleType(), True),
        T.StructField("volume", T.DoubleType(), True),
        T.StructField("trade_count", T.DoubleType(), True),
        T.StructField("vwap", T.DoubleType(), True),
    ]
)


def _require(module_name: str):
    try:
        return __import__(module_name)
    except ImportError as exc:  # pragma: no cover - env without the SDK
        raise FetcherUnavailable(
            f"{module_name} is not installed; use Parquet fixtures instead"
        ) from exc


def fetch_alpaca_bars(
    symbols: DataFrame,
    batch_size: int = 10,
    delay_between_batches: float = 2.0,
) -> DataFrame:
    """Alpaca daily bars, full history (mirrors the request shape at
    download_historical_price.py:404-414: adjustment='all', Day bars,
    1970-01-01→now, feed='sip'). Rate limiting (batch_size=10, 2 s —
    download_historical_price.py:322-335) moves into each partition."""
    _require("alpaca")  # alpaca-py; absent in this env

    def fetch(batches: Iterator) -> Iterator:  # pragma: no cover - needs SDK+network
        import datetime
        import os

        import pandas as pd
        from alpaca.data.historical import StockHistoricalDataClient
        from alpaca.data.requests import StockBarsRequest
        from alpaca.data.timeframe import TimeFrame

        # standard alpaca-py env credentials; raising on absence keeps
        # ingest loud instead of writing an empty dataset
        client = StockHistoricalDataClient(
            os.environ["APCA_API_KEY_ID"], os.environ["APCA_API_SECRET_KEY"]
        )
        cols = [f.name for f in RAW_BAR_SCHEMA.fields]
        for pdf in batches:
            for i in range(0, len(pdf), batch_size):
                # Alpaca takes the canonical dotted class-share form
                # (BRK.B); translate a dash form defensively — an
                # untranslated BRK-B 400s the whole batch request.
                chunk = [
                    s.replace("-", ".")
                    for s in pdf.iloc[i : i + batch_size]["symbol"]
                ]
                time.sleep(delay_between_batches)
                bars = client.get_stock_bars(
                    StockBarsRequest(
                        symbol_or_symbols=chunk,
                        timeframe=TimeFrame.Day,
                        start=datetime.datetime(1970, 1, 1),
                        adjustment="all",
                        feed="sip",
                    )
                ).df  # MultiIndex (symbol, timestamp)
                if bars.empty:
                    continue
                out = bars.reset_index().rename(columns={"close": "adj_close"})
                out["close"] = out["adj_close"]
                yield out.reindex(columns=cols)

    return symbols.repartition(32, "symbol").mapInPandas(fetch, RAW_BAR_SCHEMA)


def fetch_yfinance_bars(symbols: DataFrame, per_symbol_delay: float = 0.5) -> DataFrame:
    """yfinance daily bars (download_historical_price.py:463-483), the
    0.5 s/symbol throttle (:352) applied inside each partition."""
    _require("yfinance")

    def fetch(batches: Iterator) -> Iterator:  # pragma: no cover - needs SDK+network
        import pandas as pd
        import yfinance as yf

        cols = [f.name for f in RAW_BAR_SCHEMA.fields]
        for pdf in batches:
            for _, row in pdf.iterrows():
                time.sleep(per_symbol_delay)
                # request-side '.' -> '-' (the reference's :459 rule):
                # yfinance spells class shares BRK-B; the canonical
                # dotted form returns an empty frame that the guard
                # below would silently swallow. The OUTPUT keeps the
                # canonical input symbol.
                h = yf.Ticker(row["symbol"].replace(".", "-")).history(
                    period="max", auto_adjust=False
                )
                if h.empty:
                    continue
                out = h.reset_index().rename(
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
                out["symbol"] = row["symbol"]
                yield out.reindex(columns=cols)

    return symbols.repartition(32, "symbol").mapInPandas(fetch, RAW_BAR_SCHEMA)

