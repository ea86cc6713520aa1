"""Daily bars kept fresh with O(batch) work per refresh: the bar table
``live --bars`` maintains next to the prices table, one fold per
micro-batch of validated, deduplicated ticks.

Design (LSM-shaped, on the manifest append-log protocol):

- a refresh aggregates the batch to partial bar states
  (:func:`~.analytics.ohlc_partials`, the bar monoid) and
  ``commit_append``s them: one new segment, O(batch) regardless of
  table size;
- readers fold the partial-state log with the monoid's combine step
  (:func:`~.analytics.fold_ohlc_partials`) — the log is one row per
  (key, day, refresh), so the fold runs over bar-sized data, never
  over ticks;
- compaction folds the log back to one row per (key, day) as a
  snapshot commit, leaving readers of the old snapshot undisturbed;
- ``txn=(app_id, epoch)`` makes refreshes exactly-once under
  foreachBatch replay (the Delta txn idiom, same as the incremental
  dedup index).

Equivalence to batch ``ohlc_bars`` over every tick ever ingested is
asserted in tests/test_incremental_agg.py, including through crash
replays, arbitrary batch splits and compactions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from asset_prices_parquet_saver_spark.operators.analytics import (
    fold_ohlc_partials,
    ohlc_bar_columns,
    ohlc_partials,
)
from asset_prices_parquet_saver_spark.sources import manifest


def refresh_ohlc(
    batch: DataFrame,
    table: str,
    key_col: str = "symbol",
    ts_col: str = "ts",
    price_col: str = "price",
    id_col: str = "event_id",
    txn: tuple[str, int] | None = None,
) -> int:
    """Fold a tick batch into the incremental daily-bar table:
    aggregate the batch to partial bars and append one segment —
    O(batch), the bar store is never read or rewritten on ingest.
    Returns the committed version."""
    return manifest.commit_append(
        ohlc_partials(batch, key_col, ts_col, price_col, id_col), table, txn=txn
    )


def read_ohlc(
    spark: SparkSession,
    table: str,
    key_col: str = "symbol",
    version: int | None = None,
) -> DataFrame:
    """Resolve the incremental bar table: fold the partial-bar log to
    one bar per (key, day) and finish it. The open/high/low/close
    columns equal batch ohlc_bars over all ticks ever ingested; on top
    of those this adds n_ticks and ``notional`` (the sum of traded
    PRICES — the input stream has no quantity column, so there is no
    true volume to sum; the column is named for what it is)."""
    log = manifest.read_versioned(spark, table, version=version)
    return fold_ohlc_partials(log, key_col).select(
        *ohlc_bar_columns(key_col), F.col("_vol").cast("double").alias("notional")
    )


def compact_ohlc(
    spark: SparkSession, table: str, key_col: str = "symbol"
) -> int:
    """Fold the partial-bar log into one row per (key, day) and publish
    it as a snapshot commit (readers of the old snapshot are
    undisturbed; the append log then restarts from the folded state).
    Run when segments accumulate — the LSM compaction step. Pinned to
    the version it read (expect_version): an epoch appended between
    the read and the rewrite raises CommitConflict instead of being
    silently folded away — without the pin that lost epoch would also
    be unrecoverable, because the rewrite carries the txn map forward
    and a replay of the epoch would be skipped as already applied."""
    v = manifest.current_version(table)
    log = manifest.read_versioned(spark, table, version=v)
    return manifest.commit_versioned(
        fold_ohlc_partials(log, key_col), table, expect_version=v
    )
