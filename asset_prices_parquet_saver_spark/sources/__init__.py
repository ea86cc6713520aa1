"""Sources & sinks: parquet table IO, the partitioned prices dataset,
the symbol-status table, and the Python DataSources (``daily_bars``,
whose network providers are import-gated on their SDKs)."""

from asset_prices_parquet_saver_spark.sources.tables import load_tables, read_table
from asset_prices_parquet_saver_spark.sources.prices_daily import (
    read_prices_daily,
    write_prices_daily,
)
from asset_prices_parquet_saver_spark.sources.status import (
    append_status,
    read_status,
    write_status,
)

__all__ = [
    "load_tables",
    "read_table",
    "read_prices_daily",
    "write_prices_daily",
    "append_status",
    "read_status",
    "write_status",
]
