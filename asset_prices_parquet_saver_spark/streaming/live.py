"""The live-price streaming pipeline (T1-T7, SURVEY §2.9, §3.2).

The reference hand-rolls a micro-batch loop: poll Alpaca every 60 s
(update_live_price.py:118, :192), validate ticks (:160-168), and
read-modify-write one Parquet file per symbol (:200-297), with a
feedback blacklist for symbols the API rejects (:170-181).

Structured Streaming expresses the same pipeline declaratively:

    ticks readStream
      → P7 validity filter
      → watermark + dropDuplicates (T7 late/dup handling)
      → foreachBatch: J4 keep-latest merge into the prices dataset
                      → optional fold of the same batch (``live --bars``
                        folds it into the incremental daily bars)

The 60 s poll cycle *is* ``trigger(processingTime='60 seconds')``; state
is the prices table itself, so the sink is exactly-once per epoch via
the overwrite commit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def dedupe_ticks_with_watermark(
    ticks: DataFrame, lateness: str = "1 day"
) -> DataFrame:
    """T7: P7 validity filter + event-time dedupe.

    The reference accepts unbounded lateness (any tick for an existing
    date overwrites, update_live_price.py:250-258); a 1-day watermark
    bounds streaming state while matching the implicit 1-day tumbling
    window of the date-keyed upsert."""
    return (
        ticks.filter(F.col("price").isNotNull() & F.col("ts").isNotNull())
        .withWatermark("ts", lateness)
        .dropDuplicates(["symbol", "ts"])
    )


def dedupe_retransmissions(
    ticks: DataFrame, key_cols: list[str], lateness: str = "10 minutes"
) -> DataFrame:
    """T7 retransmission dedupe: drop records whose business key repeats
    within the watermark delay even when the event timestamps DIFFER
    (feed failover replays the same trade with a new receive ts, so an
    exact-``ts`` dropDuplicates misses it). dropDuplicatesWithinWatermark
    keeps first-seen per key and — unlike a keyed dropDuplicates without
    event-time, whose state grows forever — evicts each key's state once
    the watermark passes it, so state is bounded by (key arrival rate ×
    delay) regardless of stream lifetime."""
    return (
        ticks.filter(F.col("ts").isNotNull())
        .withWatermark("ts", lateness)
        .dropDuplicatesWithinWatermark(key_cols)
    )


def run_live_upsert(
    spark: SparkSession,
    ticks_stream: DataFrame,
    prices_path: str,
    source: str = "alpaca",
    trigger_seconds: int | None = 60,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
    on_batch: Callable[[DataFrame, int], None] | None = None,
):
    """Start the live upsert query (T1/T3): every micro-batch merges its
    ticks into the (source, day)-partitioned prices dataset that
    ``ingest`` writes, with the reference's last-write-wins-per-
    (symbol, day) semantics (J4).

    The sink is the partition-pruned incremental merge
    (:func:`~..sources.prices_daily.merge_ticks_incremental`): per-batch
    cost O(ticks + touched-day partitions), committed by Spark's dynamic
    partition overwrite. Per batch the driver makes one existence check
    and one listing of the dataset root through the path's Hadoop
    FileSystem (so HDFS/S3 warehouses work) and collects the batch's
    affected days; everything else runs as Spark jobs. ``on_batch``, if
    given, runs after each batch's merge with the batch and its epoch id;
    the batch is the validated, deduplicated one the merge accepted.
    """

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        from asset_prices_parquet_saver_spark.sources.prices_daily import (
            merge_ticks_incremental,
        )

        merge_ticks_incremental(spark, prices_path, batch, source=source)
        if on_batch is not None:
            on_batch(batch, epoch_id)

    deduped = dedupe_ticks_with_watermark(ticks_stream)
    writer = deduped.writeStream.outputMode("update").foreachBatch(merge_batch)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
