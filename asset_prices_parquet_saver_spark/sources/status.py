"""Symbol-status table (SURVEY §1.4 → §1.5).

Replaces the reference's newline-delimited blacklist files
(``*_invalid_symbols.txt`` loaded at download_historical_price.py:114-126
and appended at :128-144; ``alpaca_symbols_without_data.txt`` rewritten
whole at :393-402) with a small Parquet table
``symbol_status(symbol, source, status, updated_at)``. Exclusion is a
broadcast left-anti join (operators.symbols.exclude_status) instead of a
driver-side ``in set`` check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from asset_prices_parquet_saver_spark.schema import SYMBOL_STATUS_SCHEMA


def read_status(spark: SparkSession, path: str) -> DataFrame:
    """Current status table; empty (typed) for a table that does not
    exist yet. Backed by the manifest protocol, so a REAL store error
    (permissions, corruption) propagates instead of being swallowed
    into "no status rows" — a silently-empty read would disable every
    blacklist and re-fetch known-bad symbols (the same forbidden
    pattern prices_daily documents for its existence check)."""
    from asset_prices_parquet_saver_spark.sources import manifest

    return manifest.read_versioned(spark, path, schema=SYMBOL_STATUS_SCHEMA)


def append_status(
    spark: SparkSession, path: str, rows: DataFrame
) -> DataFrame:
    """Union new status rows in, dedupe to latest per (symbol, source,
    status) — the relational form of the reference's append-then-reload
    set semantics (U3). Returns the merged PLAN, which still lazily
    reads ``path`` — never write it back to ``path`` directly (a
    parquet self-overwrite loses the table); persist via
    :func:`write_status`."""
    merged = (
        read_status(spark, path)
        .unionByName(rows.select([f.name for f in SYMBOL_STATUS_SCHEMA.fields]))
        .groupBy("symbol", "source", "status")
        .agg(F.max("updated_at").alias("updated_at"))
        .select("symbol", "source", "status", "updated_at")
    )
    return merged


#: fault-injection seam (tests only): runs between the snapshot read
#: and the CAS commit — the window where a concurrent writer's rows
#: would historically have been folded away.
_test_pre_commit_hook = None


def write_status(spark: SparkSession, path: str, rows: DataFrame) -> int:
    """Merge ``rows`` into the status table and persist atomically: the
    manifest commit writes a NEW immutable segment while the merge plan
    lazily reads the old one (no read-under-overwrite window, no
    tmp+rename dance for callers to rediscover). Returns the committed
    version.

    Multi-writer safe: the merge is a read-fold-rewrite, so the commit
    carries ``expect_version`` (the version the merge read) — a
    concurrent status writer landing in between raises CommitConflict
    inside the manifest and the merge is RETRIED against the fresh
    snapshot instead of silently discarding the other writer's rows
    (two blacklist appenders racing would otherwise lose one side's
    bad-symbol marks and re-fetch known-bad symbols forever)."""
    from asset_prices_parquet_saver_spark.sources import manifest

    last_err: Exception | None = None
    for _ in range(5):
        v = manifest.current_version(path)
        merged = append_status(spark, path, rows)
        if _test_pre_commit_hook is not None:
            _test_pre_commit_hook()
        try:
            return manifest.commit_versioned(merged, path, expect_version=v)
        except manifest.CommitConflict as e:
            last_err = e
            continue
    raise last_err
