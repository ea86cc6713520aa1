"""The outside-in collector on plans whose counts are known: a one-job
scan and a one-exchange aggregate."""

from __future__ import annotations

import os

import pytest

import counters

ROWS = 10_000


@pytest.fixture(scope="module")
def table(spark, work):
    path = os.path.join(work, "t.parquet")
    spark.range(0, ROWS, 1, 1).selectExpr("id", "id % 7 AS k").write.parquet(path)
    return path


def _parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, f))
               for f in os.listdir(path) if f.endswith(".parquet"))


def test_scan_is_one_job_one_stage_no_exchange(spark, table):
    # reading the footers to infer the schema is a job of its own, so the
    # DataFrame is built before the group starts
    df = spark.read.parquet(table).filter("k = 3")
    jobs = counters.JobCounter(spark)
    group = jobs.group("scan")
    assert len(df.collect()) == len(range(3, ROWS, 7))

    c = jobs.counts(group)
    assert (c["jobs"], c["stages"], c["tasks"]) == (1, 1, 1)
    assert c["cpu_s"] > 0
    p = counters.plan_counts(df)
    assert (p["exchanges"], p["shuffle_bytes"], p["spill_bytes"]) == (0, 0, 0)
    assert p["scan_bytes"] == _parquet_bytes(table)


def test_aggregate_has_one_exchange(spark, table):
    df = spark.read.parquet(table).groupBy("k").count()
    jobs = counters.JobCounter(spark)
    group = jobs.group("agg")
    assert sorted(r["count"] for r in df.collect()) == sorted(
        len(range(k, ROWS, 7)) for k in range(7))

    p = counters.plan_counts(df)
    assert p["exchanges"] == 1
    assert p["shuffle_bytes"] > 0
    assert p["spill_bytes"] == 0
    assert p["scan_bytes"] == _parquet_bytes(table)
    # adaptive execution submits the map stage and the result stage as
    # two jobs; the result job lists the map stage again as skipped
    c = jobs.counts(group)
    assert (c["jobs"], c["stages"]) == (2, 2)


def test_job_groups_do_not_mix(spark, table):
    df = spark.read.parquet(table)
    jobs = counters.JobCounter(spark)
    first = jobs.group("first")
    df.collect()
    second = jobs.group("second")
    assert jobs.counts(second)["jobs"] == 0
    assert jobs.counts(first)["jobs"] == 1


def test_block_bytes_follow_persist(spark):
    before = counters.block_bytes(spark)
    df = spark.range(0, 50_000).persist()
    df.count()
    assert counters.block_bytes(spark) > before
    df.unpersist(blocking=True)
    assert counters.block_bytes(spark) == before


def test_rss_sampler_counts_child_processes(spark):
    # the JVM behind ``spark`` is a child of this process
    with counters.RssSampler(os.getpid(), interval_s=0.01) as rss:
        pass
    assert rss.peak > counters._pss_bytes(os.getpid()) > 0
