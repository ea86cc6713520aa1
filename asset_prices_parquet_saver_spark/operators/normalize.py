"""Bar-schema normalizer (P1-P5, P9-P13; SURVEY §2.2).

One lazy pipeline replacing the reference's imperative per-frame fixes:

- column-name case-fold      (download_historical_price.py:502)
- 'close'/'adj close' → 'adj_close'
                             (download_historical_price.py:423, 504-505)
- symbol char translation    (:389 Alpaca '-'→'.', :459 yfinance '.'→'-')
- uppercase symbols          (:187, :247)
- add-missing-columns-as-NULL (update_live_price.py:245-248)
- numeric cast to double     (update_live_price.py:216, 257, 266)
- timestamp → UTC, floored to seconds
                             (update_live_price.py:206, 239-242;
                              download_historical_price.py:508-513)

All built-in functions; idempotent (normalize(normalize(df)) ==
normalize(df)), which the tests assert.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from asset_prices_parquet_saver_spark.schema import BAR_SCHEMA, BAR_VALUE_COLUMNS

_RENAMES = {"close": "adj_close", "adj close": "adj_close", "adj_close": "adj_close"}


def normalize_bars(df: DataFrame, source: str) -> DataFrame:
    """Normalize a raw bars frame from any source into BAR_SCHEMA.

    ``df`` must carry a ``symbol`` column, a timestamp column named
    ``timestamp`` (any case), and any subset of OHLCV columns under
    source-specific names.
    """
    # P3: case-fold column names.
    df = df.toDF(*[c.lower() for c in df.columns])
    # P1: rename close-ish columns to adj_close. If both 'close' and
    # 'adj_close' exist (yfinance), adj_close wins and close is dropped.
    if "adj_close" not in df.columns and "adj close" in df.columns:
        df = df.withColumnRenamed("adj close", "adj_close")
    if "adj_close" not in df.columns and "close" in df.columns:
        df = df.withColumnRenamed("close", "adj_close")
    df = df.drop("close", "adj close")

    # P9/P10: uppercase symbols, then normalize '-' to the canonical
    # '.' class-share form (BRK-B → BRK.B) for EVERY source — the
    # per-source translations the reference applies are REQUEST-side
    # (sources/bars_datasource.py spells '.' as '-' for yfinance, '-' as '.'
    # for Alpaca); the stored form is uniformly dotted.
    df = df.withColumn("symbol", F.translate(F.upper(F.col("symbol")), "-", "."))

    # P11/P13: timestamps floored to seconds, stored as UTC instants
    # (session tz is pinned to UTC by session.get_spark).
    df = df.withColumn("timestamp", F.date_trunc("second", F.col("timestamp")))

    # P5 + P14: pad missing value columns as NULL doubles, cast present ones.
    for c in BAR_VALUE_COLUMNS:
        if c in df.columns:
            df = df.withColumn(c, F.col(c).cast("double"))
        else:
            df = df.withColumn(c, F.lit(None).cast("double"))

    df = df.withColumn("source", F.lit(source))
    return df.select([f.name for f in BAR_SCHEMA.fields])
