"""Live-trades streaming Python DataSource (T1/T2 as readStream).

The reference's live loop polls the latest-trades endpoint every 60 s
from a driver-side while-loop (update_live_price.py:118-157). The
Spark-4 re-expression is a streaming DataSource: each micro-batch IS
one poll — the trigger owns the cadence, the checkpoint owns the
offset, and replays are exact because a batch's rows are a pure
function of its offset range::

    spark.dataSource.register(LiveTradesDataSource)
    ticks = (spark.readStream.format("live_trades")
             .option("symbols", "AAPL,MSFT")
             .option("provider", "fake")          # alpaca | fake
             .load())
    # → dedupe_ticks_with_watermark → foreachBatch upsert (live.py)

Offset model: ``{"epoch": n}`` — one poll per epoch. The ``fake``
provider derives each epoch's ticks deterministically from
(symbol, epoch) via md5, so ``readBetweenOffsets`` (the replay path a
crash recovery exercises) regenerates byte-identical batches — the
exactly-once property the reference's hand-rolled loop cannot offer.
The ``alpaca`` provider is import-gated (SDK absent here) and maps an
epoch to one latest-trades snapshot request; a REPLAYED network epoch
cannot re-poll the past, so it returns empty — the downstream upsert
sink is idempotent per epoch (manifest txn), which is where real-feed
exactly-once lives.

Emits ``symbol string, price double, ts timestamp`` — the LIVE_TRADE
shape streaming/live.py consumes.
"""

from __future__ import annotations

import hashlib

from pyspark.sql.datasource import (
    DataSource,
    SimpleDataSourceStreamReader,
)

_TRADE_DDL = "symbol string, price double, ts timestamp"


def _fake_epoch_ticks(symbols: list[str], epoch: int):
    """Deterministic ticks for one poll epoch: price walks on an
    md5-driven path per (symbol, epoch); ts advances one minute per
    epoch from a fixed origin. Pure — replay-identical."""
    import datetime

    ts = datetime.datetime(2024, 1, 2, 9, 30) + datetime.timedelta(minutes=epoch)
    for sym in symbols:
        h = int(hashlib.md5(f"{sym}:{epoch}".encode()).hexdigest()[:8], 16)
        base = 20.0 + (int(hashlib.md5(sym.encode()).hexdigest()[:8], 16) % 1000) / 10.0
        price = round(base + ((h % 401) - 200) / 100.0, 2)
        yield (sym, price, ts)


def _latest_trade_rows(latest) -> list:
    """Alpaca's ``get_stock_latest_trade`` response — a mapping of
    symbol → trade with ``price`` and ``timestamp`` — as tick rows."""
    return [(sym, float(t.price), t.timestamp) for sym, t in latest.items()]


class LiveTradesSimpleReader(SimpleDataSourceStreamReader):
    def __init__(self, options):
        raw = options.get("symbols", "") or ""
        self.symbols = [s for s in (x.strip() for x in raw.split(",")) if s]
        if not self.symbols:
            raise ValueError(
                "live_trades: option 'symbols' (comma-separated) is required"
            )
        self.provider = (options.get("provider") or "alpaca").lower()
        if self.provider not in ("alpaca", "fake"):
            raise ValueError(f"live_trades: unknown provider {self.provider!r}")

    def initialOffset(self) -> dict:
        return {"epoch": 0}

    def read(self, start: dict):
        epoch = int(start["epoch"])
        # a concrete list, not a generator: the prefetched batch is
        # pickled driver-side before it ships to executors
        return self._ticks(epoch), {"epoch": epoch + 1}

    def readBetweenOffsets(self, start: dict, end: dict):
        # crash-replay path: regenerate every epoch in [start, end) —
        # exact for the fake provider; empty for a network provider
        # whose past polls are unrepeatable (re-polling NOW would
        # attribute current prices to past offsets — duplicate rows
        # with wrong event times; sink idempotence covers the gap)
        if self.provider != "fake":
            return []
        out = []
        for epoch in range(int(start["epoch"]), int(end["epoch"])):
            out.extend(self._ticks(epoch))
        return out

    def commit(self, end: dict) -> None:
        pass  # nothing external to acknowledge

    def _ticks(self, epoch: int) -> list:
        if self.provider == "fake":
            return list(_fake_epoch_ticks(self.symbols, epoch))
        return self._poll_alpaca()  # pragma: no cover - SDK absent

    def _poll_alpaca(self) -> list:  # pragma: no cover - needs SDK+network
        from asset_prices_parquet_saver_spark.sources.bars_datasource import _require

        _require("alpaca")
        import os

        from alpaca.data.historical import StockHistoricalDataClient
        from alpaca.data.requests import StockLatestTradeRequest

        client = StockHistoricalDataClient(
            os.environ["APCA_API_KEY_ID"], os.environ["APCA_API_SECRET_KEY"]
        )
        return _latest_trade_rows(
            client.get_stock_latest_trade(
                StockLatestTradeRequest(symbol_or_symbols=self.symbols)
            )
        )


class LiveTradesDataSource(DataSource):
    """``spark.readStream.format("live_trades")`` — see module doc."""

    @classmethod
    def name(cls) -> str:
        return "live_trades"

    def schema(self) -> str:
        return _TRADE_DDL

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return LiveTradesSimpleReader(self.options)
