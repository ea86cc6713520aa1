"""The ``prices`` dataset (SURVEY §1.5, §7.1): one table, partitioned by
(source, day), written by bulk ingest and upserted by the live stream.

Replaces the reference's one-Parquet-file-per-(symbol, source) layout
(download_historical_price.py:74-82, :429, :455), which
update_live_price.py:200-297 read-modify-writes in place. Here symbol is
a data column, so day partitions hold all symbols (no small-files
problem), and the live upsert (J4, update_live_price.py:250-274)
becomes:

1. reduce the batch to last-tick-per-(symbol, day);
2. read ONLY the affected day partitions (partition pruning — the
   scan's PartitionFilters, not a full-table read);
3. full-outer merge within those days;
4. write back with dynamic partition overwrite — Spark's commit
   replaces exactly the touched (source, day) directories, leaving
   every other partition byte-identical.

Per-batch cost is O(ticks + affected-day partition size), independent
of total dataset size — the property the reference got from per-symbol
files. Each write replaces a touched partition with one file, so the
layout needs no compaction. The reference hand-rolls atomicity via
tmp-file + os.replace (download_historical_price.py:429-432); Spark's
output-commit protocol gives the same guarantee per partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from asset_prices_parquet_saver_spark.operators.merge import (
    latest_ticks_per_day,
    upsert_live_prices,
)
from asset_prices_parquet_saver_spark.schema import BAR_SCHEMA, BAR_VALUE_COLUMNS

#: data columns stored inside each partition file
_DATA_COLUMNS = ["symbol", "timestamp", *BAR_VALUE_COLUMNS]


def write_prices_daily(df: DataFrame, path: str) -> None:
    """Write bars partitioned by (source, day); day derives from the
    bar timestamp. One shuffle keyed on the partition columns so each
    output partition is a single task's write.

    NOTE: the write is a dynamic partition overwrite (set per write, so
    foreign sessions behave the same): it replaces ONLY the
    (source, day) partitions present in ``df`` and leaves every other
    partition in place — a rebuild from a frame that lacks some day
    keeps that day's old data. For a true full replace, clear the path
    first."""
    (
        df.withColumn("day", F.to_date("timestamp"))
        .repartition("source", "day")
        .sortWithinPartitions("symbol", "timestamp")
        .select("source", "day", *_DATA_COLUMNS)
        .write.option("partitionOverwriteMode", "dynamic")
        .partitionBy("source", "day")
        .mode("overwrite")
        .parquet(path)
    )


def read_prices_daily(spark: SparkSession, path: str) -> DataFrame:
    """Scan the day-partitioned dataset; day/source come back as
    partition columns (strings/dates per partition discovery)."""
    return spark.read.parquet(path)


def _dataset_exists(spark: SparkSession, path: str) -> bool:
    """True iff a prices dataset was ever written at ``path`` (any
    non-marker entry in the directory — partition dirs in practice).
    Asks the path's Hadoop FileSystem, so plain paths and ``file://``,
    ``hdfs://`` or ``s3a://`` URIs all resolve; listing errors
    propagate."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return False
    return any(
        not st.getPath().getName().startswith((".", "_"))
        for st in fs.listStatus(p)
    )


def merge_ticks_incremental(
    spark: SparkSession,
    path: str,
    ticks: DataFrame,
    source: str = "alpaca",
) -> list:
    """J4 upsert touching only affected partitions. Returns the list of
    affected days (useful for logging/metrics).

    Semantics match update_live_price.py:250-274 exactly: an existing
    (symbol, day) bar keeps all columns except ``adj_close`` (overwritten
    by the day's last valid tick); a new (symbol, day) appears as a
    NULL-padded row whose timestamp is the tick's midnight.
    """
    # localCheckpoint: `latest` feeds BOTH the affected-day collect and
    # the merge/write job — without materializing it the row_number
    # window over the tick batch runs twice per 60-second epoch
    latest = latest_ticks_per_day(ticks).select("symbol", "day", "price").localCheckpoint()
    # the affected-day list is tiny (days-per-batch), collect is cheap
    # and becomes the partition-pruning predicate
    days = [r.day for r in latest.select("day").distinct().collect()]
    if not days:
        return []

    # EXPLICIT existence check — never catch read errors here: an
    # AnalysisException from a corrupt or permission-denied store must
    # propagate, not be mistaken for "nothing on disk yet" and silently
    # rebuild the touched days from this one batch (the durability path
    # is the last place to guess). A missing dataset merges against an
    # empty frame of the same columns.
    if _dataset_exists(spark, path):
        existing = read_prices_daily(spark, path).filter(
            (F.col("source") == source) & (F.col("day").isin(days))
        )
    else:
        existing = spark.createDataFrame([], BAR_SCHEMA).withColumn(
            "day", F.to_date("timestamp")
        )
    merged = upsert_live_prices(existing, latest).withColumn("source", F.lit(source))
    write_prices_daily(merged, path)
    return days
