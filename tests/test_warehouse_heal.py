"""Managed-table writers must be self-healing against orphaned
warehouse directories: a killed JVM leaves ``<warehouse>/<table>/`` on
disk while a fresh Derby catalog has no such table, so ``DROP TABLE IF
EXISTS`` is a no-op and a bare ``saveAsTable`` dies with
LOCATION_ALREADY_EXISTS (the r12 driver-red gate). Each test plants
exactly that orphan and asserts the writer recovers without manual
cleanup."""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import functions as F

from asset_prices_parquet_saver_spark.operators import dedup
from asset_prices_parquet_saver_spark.sources.warehouse import (
    heal_table_location,
)


def _plant_orphan(spark, table: str) -> str:
    """DROP the table, then recreate its warehouse directory by hand —
    the exact state a killed run leaves behind."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    loc = urlparse(spark.catalog.getDatabase("default").locationUri).path
    d = os.path.join(loc, table.lower())
    os.makedirs(d, exist_ok=True)
    # a stray data file, like a killed write would leave
    with open(os.path.join(d, "part-orphan.parquet"), "wb") as fh:
        fh.write(b"junk")
    return d


def test_heal_removes_orphan_and_keeps_live_tables(spark, tmp_path):
    d = _plant_orphan(spark, "heal_probe_tbl")
    heal_table_location(spark, "heal_probe_tbl")
    assert not os.path.exists(d)
    # a LIVE catalog table is never touched
    spark.createDataFrame([(1,)], "x int").write.mode(
        "overwrite"
    ).saveAsTable("heal_live_tbl")
    try:
        heal_table_location(spark, "heal_live_tbl")
        assert spark.table("heal_live_tbl").count() == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS heal_live_tbl")


def test_build_ensemble_index_survives_orphaned_location(spark):
    tbl = "heal_ensemble_idx"
    _plant_orphan(spark, tbl)
    try:
        docs = spark.createDataFrame(
            [(i, "alpha beta gamma delta epsilon zeta") for i in range(6)],
            "doc_id long, text string",
        )
        dedup.build_ensemble_index(
            docs, "doc_id", "text", tbl, threshold=0.7, num_buckets=4
        )
        assert spark.table(tbl).count() > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")

