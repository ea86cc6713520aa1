"""Streaming SCD2 dimension maintenance.

The reference's live loop point-updates a latest-value row per symbol
(update_live_price.py:227 — SCD type 1, history overwritten). This
composes the type-2 operator (operators/scd.py) with Structured
Streaming: each micro-batch of attribute observations re-versions ONLY
the keys it touches (scd2_apply's anti/semi split) and publishes the
dimension as an atomic manifest snapshot commit, exactly-once per
epoch via the txn record — replayed epochs are also semantically
idempotent (scd2_apply collapses duplicate observations), so the
pipeline survives a crash between checkpoint and commit either way.

Scale note: the snapshot commit rewrites the full dimension per batch
— the right default for dimension tables (catalog-of-entities sized,
not fact sized). For a dimension that is itself huge, key-partition
the table and overwrite only partitions holding batch keys, exactly as
sources/prices_daily.merge_ticks_incremental does for days.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from asset_prices_parquet_saver_spark.operators.scd import scd2_apply
from asset_prices_parquet_saver_spark.sources import manifest


def _dim_schema(changes: DataFrame, key_col: str, ts_col: str,
                attr_cols: list[str], tiebreak_col: str) -> str:
    by_name = {f.name: f.dataType.simpleString() for f in changes.schema.fields}
    cols = [f"{key_col} {by_name[key_col]}"]
    cols += [f"{c} {by_name[c]}" for c in attr_cols]
    cols += [
        f"valid_from {by_name[ts_col]}",
        f"valid_to {by_name[ts_col]}",
        "version long",
        "is_current boolean",
        f"opened_by {by_name[tiebreak_col]}",
        f"last_observed {by_name[ts_col]}",
        f"last_observed_by {by_name[tiebreak_col]}",
    ]
    return ", ".join(cols)


def run_streaming_scd2(
    spark: SparkSession,
    changes: DataFrame,
    dim_table: str,
    key_col: str,
    ts_col: str,
    attr_cols: list[str],
    tiebreak_col: str,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
    trigger_seconds: int | None = None,
    app_id: str = "scd2-dim",
):
    """Start the streaming SCD2 maintenance query over a changelog
    stream. Returns the StreamingQuery handle.

    ``app_id`` must be STABLE across restarts (like run_streaming_dedup
    and ``live --bars``): the txn replay guard keys on it, and the
    only replay scenario that exists is crash + restart — a
    per-application id (sparkContext.applicationId) changes on every
    restart, which would make the guard dead exactly when it matters
    (the replayed epoch would re-version the dimension instead of
    being skipped)."""
    schema = _dim_schema(changes, key_col, ts_col, attr_cols, tiebreak_col)

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        existing = manifest.read_versioned(spark, dim_table, schema=schema)
        new_dim = scd2_apply(
            existing, batch, key_col, ts_col, attr_cols, tiebreak_col
        )
        manifest.commit_versioned(new_dim, dim_table, txn=(app_id, epoch_id))

    writer = changes.writeStream.foreachBatch(apply_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
