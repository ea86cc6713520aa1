"""Seeded inputs for the benchmark.

Everything a run reads is generated here: the two tables the corpus
queries scan (``documents``, ``embeddings``), from a fixed seed, and,
from the run's ``--seed``, the daily price history that ``live_upsert``
starts from and its tick batches. The same seed gives identical inputs.

The tables have the schemas of the engine's test corpus (FIXTURES.md):
word-soup ``documents`` over a 30-word vocabulary, with near-duplicate
copies that carry a trailing ``dup`` token, and 64-dim unit
``embeddings`` with label clusters and a few near-duplicate vectors.

The tick generator also computes a pandas last-write-wins reference of
the prices table, which the ``live_upsert`` output check compares with.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data query table scan filter join agg group order sort window "
    "hash merge stream batch spark row column value key part line customer "
    "vector big small fast slow"
).split()
LANGS = ["en", "en", "de", "es", "fr", "zh"]

#: rows per table. At these sizes the 15 dedup/text queries of the
#: engine run 227 Spark jobs per pass, against 233 at sf0.1 (README.md).
SIZES = {"documents": 300, "embeddings": 300}
TABLES = tuple(SIZES)
#: the corpus every query run reads, whatever the run's seed
CORPUS_SEED = 0


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.06:  # near-duplicate of an earlier doc
            src = texts[int(rng.integers(0, i))].split()
            texts.append(" ".join(src + ["dup"] * int(rng.integers(1, 3))))
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(8, 100)))))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    vecs = rng.normal(0.0, 1.0, (n, dim)) + 0.15 * centroids[labels]
    for i in rng.choice(np.arange(1, n), n // 50, replace=False):
        vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(0.0, 0.05, dim)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_corpus(seed: int, out_dir: str) -> None:
    """Write the ``documents`` and ``embeddings`` tables to ``out_dir``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents(rng, SIZES["documents"]), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings(rng, SIZES["embeddings"]), os.path.join(out_dir, "embeddings.parquet"))


# ------------------------------------------------------------- live upsert

#: last day of the seeded history; live ticks start the day after
HISTORY_END = dt.date(2024, 3, 29)
BAR_VALUES = ["open", "high", "low", "adj_close", "volume", "trade_count", "vwap"]


def history(seed: int, symbols: int = 20, days: int = 30) -> pd.DataFrame:
    """Daily bars (source, symbol, timestamp, values) for ``days`` days
    up to HISTORY_END, one row per symbol and day."""
    rng = np.random.default_rng([seed, 2])
    rows = []
    for s in range(symbols):
        px = 50.0 + 100.0 * rng.random()
        for d in range(days):
            day = HISTORY_END - dt.timedelta(days=days - 1 - d)
            px = round(px * (1.0 + rng.normal(0.0, 0.02)), 2)
            rows.append(
                {
                    "source": "alpaca",
                    "symbol": f"S{s:02d}",
                    "timestamp": dt.datetime.combine(day, dt.time()),
                    "open": px, "high": px + 1.0, "low": px - 1.0, "adj_close": px,
                    "volume": float(rng.integers(1000, 100000)),
                    "trade_count": float(rng.integers(10, 1000)),
                    "vwap": px,
                }
            )
    return pd.DataFrame(rows)


@dataclass
class TickStream:
    """Seeded tick batches for ``live_upsert`` plus the reference state.

    Batch ``b`` covers live day ``b // batches_per_day`` after the
    history. Every batch holds out-of-order ticks, an exact duplicate
    (symbol, ts, price) row, NULL prices, and a share of late ticks for
    older days: half still inside the 1-day watermark (accepted), half
    three or more days older than it (dropped by the watermark)."""

    seed: int
    symbols: int = 24
    ticks_per_batch: int = 400
    batches_per_day: int = 4
    batches: list[pd.DataFrame] = field(default_factory=list)

    def batch(self, b: int) -> pd.DataFrame:
        while len(self.batches) <= b:
            self.batches.append(self._make(len(self.batches)))
        return self.batches[b]

    def _make(self, b: int) -> pd.DataFrame:
        rng = np.random.default_rng([self.seed, 3, b])
        n = self.ticks_per_batch
        day = HISTORY_END + dt.timedelta(days=1 + b // self.batches_per_day)
        slot = b % self.batches_per_day
        base = pd.Timestamp(day) + pd.Timedelta(hours=9 + 2 * slot)
        # microsecond offsets inside this batch's 2-hour slot, shuffled
        # so ticks arrive out of order
        offs = rng.integers(0, 2 * 3600 * 1_000_000, n)
        ts = base + pd.to_timedelta(offs, unit="us")
        late = rng.random(n) < 0.08
        late_kept = late & (rng.random(n) < 0.5)
        # accepted late ticks: 12-20 h before the batch slot (the
        # watermark trails the newest tick by 1 day); dropped ones:
        # 3+ days older than that
        back_h = np.where(late_kept, rng.uniform(12, 20, n), rng.uniform(24 * 4, 24 * 6, n))
        ts = ts.where(~late, base - pd.to_timedelta(back_h, unit="h")).floor("us")
        price = np.round(50.0 + 100.0 * rng.random(n), 2)
        frame = pd.DataFrame(
            {
                "symbol": [f"S{s:02d}" for s in rng.integers(0, self.symbols, n)],
                "price": price,
                "ts": ts,
                "tick_id": np.arange(b * (n + 1), b * (n + 1) + n, dtype="int64"),
            }
        )
        frame.loc[rng.random(n) < 0.03, "price"] = np.nan
        dup = frame.iloc[[int(rng.integers(0, n))]].copy()
        dup["tick_id"] = b * (n + 1) + n
        frame = pd.concat([frame, dup], ignore_index=True)
        if b > 0:  # retransmission of a tick from the previous batch
            prev = self.batch(b - 1)
            again = prev[prev["price"].notna()].iloc[[0]].copy()
            frame = pd.concat([frame, again], ignore_index=True)
        return frame.sample(frac=1.0, random_state=int(rng.integers(0, 2**31))).reset_index(drop=True)


def reference_upsert(hist: pd.DataFrame, batches: list[pd.DataFrame]):
    """pandas last-write-wins reference of ``streaming.live.run_live_upsert``.

    Replays the stream batch by batch: drop NULL price/ts, drop ticks at
    or before the watermark (newest ts of earlier batches minus 1 day),
    drop (symbol, ts) pairs already seen, then per (symbol, day) keep the
    tick with the latest second-truncated ts (ties: highest price) and
    overwrite that bar's ``adj_close``; a new (symbol, day) becomes a
    NULL-padded bar at midnight.

    Returns (final prices frame, accepted ticks, per-batch touched
    {(symbol, day): adj_close} dicts, late rows dropped)."""
    bars = {
        (r.symbol, r.timestamp.date()): dict(r._asdict())
        for r in hist.itertuples(index=False)
    }
    seen: set[tuple[str, pd.Timestamp]] = set()
    watermark = None
    accepted, touched, dropped = [], [], 0
    for frame in batches:
        valid = frame[frame["price"].notna() & frame["ts"].notna()]
        if watermark is not None:
            late = valid["ts"] <= watermark
            dropped += int(late.sum())
            valid = valid[~late]
        keys = list(zip(valid["symbol"], valid["ts"]))
        fresh = []
        for i, k in enumerate(keys):
            if k not in seen:
                seen.add(k)
                fresh.append(i)
        valid = valid.iloc[fresh]
        accepted.append(valid)
        if len(frame["ts"].dropna()):
            top = frame.loc[frame["price"].notna(), "ts"].max() - pd.Timedelta(days=1)
            watermark = top if watermark is None else max(watermark, top)
        last = valid.assign(ts_s=valid["ts"].dt.floor("s"), day=valid["ts"].dt.date)
        last = last.sort_values(["ts_s", "price"], ascending=False).drop_duplicates(["symbol", "day"])
        now = {}
        for r in last.itertuples(index=False):
            key = (r.symbol, r.day)
            bar = bars.get(key)
            if bar is None:
                bar = {"source": "alpaca", "symbol": r.symbol,
                       "timestamp": dt.datetime.combine(r.day, dt.time()),
                       **{c: None for c in BAR_VALUES}}
                bars[key] = bar
            bar["adj_close"] = float(r.price)
            now[key] = float(r.price)
        touched.append(now)
    final = pd.DataFrame(list(bars.values()))
    return final, pd.concat(accepted, ignore_index=True), touched, dropped
