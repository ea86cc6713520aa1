"""CLI surface: the reference's four entry points as subcommands."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row

from asset_prices_parquet_saver_spark import cli
from asset_prices_parquet_saver_spark.schema import BAR_SCHEMA
from asset_prices_parquet_saver_spark.sources.prices_daily import write_prices_daily


def _bar(source, symbol, day, close):
    return Row(
        source=source,
        symbol=symbol,
        timestamp=datetime.datetime(2024, 1, day),
        open=1.0,
        high=2.0,
        low=0.5,
        adj_close=close,
        volume=10.0,
        trade_count=None,
        vwap=None,
    )


@pytest.fixture()
def prices_path(spark, tmp_path):
    path = str(tmp_path / "prices")
    bars = [
        _bar("alpaca", "AAPL", 2, 10.0),
        _bar("alpaca", "AAPL", 3, 11.0),
        _bar("yfinance", "AAPL", 2, 10.5),
    ]
    write_prices_daily(spark.createDataFrame(bars, BAR_SCHEMA), path)
    return path


def test_cli_details_runs(spark, prices_path, capsys):
    rc = cli.main(
        ["details", "--path", prices_path, "--symbol", "aapl", "--num-rows", "2"]
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "head" in out and "tail" in out
    assert "adj_close" in out


def test_cli_compare_detects_diff(spark, prices_path, capsys):
    rc = cli.main(
        [
            "compare",
            "--left",
            f"{prices_path}/source=alpaca",
            "--right",
            f"{prices_path}/source=yfinance",
            "--keys",
            "symbol,timestamp",
        ]
    )
    out = capsys.readouterr().out
    assert rc == 1  # frames differ (10.0 vs 10.5, and a left-only day)
    assert "left_only" in out or "mismatch" in out


def test_cli_compare_identical_is_clean(spark, prices_path, capsys):
    rc = cli.main(
        [
            "compare",
            "--left",
            f"{prices_path}/source=alpaca",
            "--right",
            f"{prices_path}/source=alpaca",
        ]
    )
    assert rc == 0
    assert "data diff rows: 0" in capsys.readouterr().out


def test_cli_ingest_gated_without_sdk(spark, tmp_path, capsys):
    rc = cli.main(
        [
            "ingest",
            "--source",
            "alpaca",
            "--symbols",
            "AAPL,MSFT",
            "--output",
            str(tmp_path / "out"),
        ]
    )
    assert rc == 2  # FetcherUnavailable → clean error, not a traceback
    assert "not installed" in capsys.readouterr().err


def test_cli_ingest_reads_daily_bars(spark, tmp_path, monkeypatch):
    """ingest end to end through the real ``daily_bars`` source on its
    offline ``fake`` provider: the sorted universe, one planned
    partition per 10-symbol batch, normalize_bars, and the
    day-partitioned write."""
    from asset_prices_parquet_saver_spark.sources import bars_datasource
    from asset_prices_parquet_saver_spark.sources.prices_daily import (
        read_prices_daily,
    )

    read = bars_datasource.read_daily_bars
    seen = {}

    def fake(spark, symbols, provider):
        seen["symbols"], seen["provider"] = symbols, provider
        seen["raw"] = read(spark, symbols, "fake")
        return seen["raw"]

    monkeypatch.setattr(bars_datasource, "read_daily_bars", fake)
    symbols = [f"S{i:02d}" for i in range(12)] + ["brk-b"]
    out = str(tmp_path / "prices")
    rc = cli.main(
        [
            "ingest",
            "--source", "yfinance",
            "--symbols", ",".join(reversed(symbols)),
            "--output", out,
        ]
    )
    assert rc == 0
    assert seen["provider"] == "yfinance"
    assert seen["symbols"] == sorted(s.upper() for s in symbols)
    assert seen["raw"].rdd.getNumPartitions() == 2  # 13 symbols, batches of 10
    rows = read_prices_daily(spark, out).collect()
    assert len(rows) == 13 * 30  # fake_days default
    assert {r.symbol for r in rows} == {f"S{i:02d}" for i in range(12)} | {"BRK.B"}
    assert {r.source for r in rows} == {"yfinance"}
    assert all(r.day == r.timestamp.date() for r in rows)
    assert all(r.adj_close is not None and r.vwap is not None for r in rows)


def test_cli_ingest_empty_universe_writes_nothing(spark, tmp_path, capsys):
    caps = str(tmp_path / "caps.parquet")
    spark.createDataFrame(
        [("AAPL", 3e12), ("TINY", 1e6)], "symbol string, market_cap double"
    ).write.parquet(caps)
    out = tmp_path / "out"
    rc = cli.main(
        [
            "ingest",
            "--source", "alpaca",
            "--symbols", "TINY",
            "--output", str(out),
            "--categories", "mega",
            "--market-caps", caps,
        ]
    )
    assert rc == 2
    assert "empty" in capsys.readouterr().err
    assert not out.exists()


def test_cli_dedup_runs(spark, tmp_path, capsys):
    docs = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "something else entirely with no overlap at all"),
        ],
        "doc_id long, text string",
    ).write.parquet(docs)
    rc = cli.main(
        [
            "dedup",
            "--docs", docs,
            "--index", str(tmp_path / "idx"),
            "--output", str(tmp_path / "corpus"),
        ]
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "accepted 2/3" in out


def test_cli_curate_pipeline(spark, tmp_path, capsys):
    docs = str(tmp_path / "raw.parquet")
    good = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the green hills where a river is winding of old stone"
    )
    spark.createDataFrame(
        [
            (1, good),
            (2, good + " extra"),          # near-dup of 1 -> dropped
            (3, "x"),                       # fails the quality filter
            (4, "contact me at a@b.com " + good[: len(good) // 2]),
        ],
        "doc_id long, text string",
    ).write.parquet(docs)
    rc = cli.main(
        [
            "curate",
            "--docs", docs,
            "--output", str(tmp_path / "curated"),
        ]
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "curated 4 ->" in out
    curated = spark.read.parquet(str(tmp_path / "curated"))
    rows = {r.doc_id: r for r in curated.collect()}
    assert 3 not in rows            # quality-filtered
    assert 1 in rows and 2 not in rows  # dedup kept the min id
    assert "split" in curated.columns
    if 4 in rows:
        assert "<EMAIL>" in rows[4].text  # PII scrubbed


def test_cli_report_runs_and_gates_on_dq(spark, sf_dir, capsys):
    from asset_prices_parquet_saver_spark.cli import main

    rc = main(
        [
            "report",
            f"{sf_dir}/lineitem.parquet",
            "--columns",
            "l_quantity,l_discount",
            "--histogram",
            "l_extendedprice:0:20000:6",
        ]
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "column profile" in out and "data-quality checks" in out
    assert "l_quantity" in out


def test_cli_live_requires_output_and_bars_checkpoint(tmp_path, capsys):
    from asset_prices_parquet_saver_spark.cli import main

    ticks = str(tmp_path / "ticks")
    assert main(["live", "--ticks-dir", ticks]) == 2
    assert "needs --output" in capsys.readouterr().err
    # without a checkpoint a rerun restarts its epochs at 0 and the
    # bars log would skip its batches as already applied
    argv = ["live", "--ticks-dir", ticks, "--output", str(tmp_path / "p")]
    assert main([*argv, "--bars", str(tmp_path / "b")]) == 2
    assert "needs --checkpoint" in capsys.readouterr().err


def test_cli_live_upserts_prices_and_folds_bars(spark, prices_path, tmp_path):
    """``live --output --bars`` is one query: each micro-batch is
    validated and deduplicated, upserted into the prices table, and the
    same batch is folded into the bars log, so the bars count exactly
    the accepted ticks."""
    import threading
    import time

    from pyspark.sql import functions as F

    from asset_prices_parquet_saver_spark.operators.analytics import ohlc_bars
    from asset_prices_parquet_saver_spark.operators.incremental_agg import read_ohlc
    from asset_prices_parquet_saver_spark.operators.merge import (
        latest_ticks_per_day,
        upsert_live_prices,
    )
    from asset_prices_parquet_saver_spark.schema import LIVE_TRADE_SCHEMA
    from asset_prices_parquet_saver_spark.sources.prices_daily import read_prices_daily

    def t(day, hour, minute=0):
        return datetime.datetime(2024, 1, day, hour, minute)

    rows = [
        ("AAPL", None, t(3, 9)),  # earliest of its day, invalid
        ("AAPL", 15.0, t(3, 9, 30)),
        ("AAPL", 12.0, t(3, 10)),
        ("AAPL", 12.0, t(3, 10)),  # repeated (symbol, ts)
        ("AAPL", 13.0, t(4, 9)),
        ("MSFT", 5.0, t(3, 11)),
    ]
    ticks = spark.createDataFrame(rows, LIVE_TRADE_SCHEMA)
    drop = str(tmp_path / "ticks")
    ticks.coalesce(1).write.parquet(drop)
    existing = read_prices_daily(spark, prices_path)
    value_cols = [c for c in existing.columns if c not in ("source", "day", "symbol", "timestamp")]
    cols = ["source", "symbol", "timestamp", *value_cols]
    alpaca = existing.filter(F.col("source") == "alpaca").withColumn("day", F.to_date("timestamp"))
    want_prices = {
        tuple(r) for r in upsert_live_prices(alpaca, latest_ticks_per_day(ticks))
        .withColumn("source", F.lit("alpaca"))
        .unionByName(existing.filter(F.col("source") != "alpaca").drop("day"), allowMissingColumns=True)
        .select(*cols).collect()
    }
    accepted = ticks.filter(F.col("price").isNotNull()).dropDuplicates(["symbol", "ts"])
    bar_cols = ["symbol", "day", "open", "high", "low", "close", "n_ticks"]
    want_bars = {
        tuple(r) for r in ohlc_bars(
            accepted.withColumn("event_id", F.lit(0)),
            key_col="symbol", price_col="price",
        ).select(*bar_cols).collect()
    }

    bars = str(tmp_path / "bars")
    rc = []
    argv = [
        "live", "--ticks-dir", drop, "--output", prices_path, "--bars", bars,
        "--checkpoint", str(tmp_path / "ckpt"), "--interval", "1",
    ]
    before = {q.id for q in spark.streams.active}
    runner = threading.Thread(target=lambda: rc.append(cli.main(argv)))
    runner.start()
    deadline = time.monotonic() + 120
    while not (started := [q for q in spark.streams.active if q.id not in before]):
        assert runner.is_alive() and time.monotonic() < deadline
        time.sleep(0.2)
    [query] = started
    query.processAllAvailable()
    query.stop()
    runner.join(60)
    assert rc == [0]

    got_prices = {tuple(r) for r in read_prices_daily(spark, prices_path).select(*cols).collect()}
    assert got_prices == want_prices
    got_bars = {tuple(r) for r in read_ohlc(spark, bars).select(*bar_cols).collect()}
    assert got_bars == want_bars
    assert (datetime.date(2024, 1, 3), 15.0, 2) in {
        (r["day"], r["open"], r["n_ticks"]) for r in read_ohlc(spark, bars).collect()
        if r["symbol"] == "AAPL"
    }


def test_cli_report_reads_manifest_tables(spark, tmp_path, capsys):
    from asset_prices_parquet_saver_spark.cli import main
    from asset_prices_parquet_saver_spark.sources import manifest

    table = str(tmp_path / "t")
    manifest.commit_append(
        spark.createDataFrame([(1.0,), (2.0,)], "x double"), table
    )
    manifest.commit_append(
        spark.createDataFrame([(3.0,)], "x double"), table
    )
    rc = main(["report", table, "--columns", "x"])
    out = capsys.readouterr().out
    assert rc == 0 and "x" in out


def test_cli_scd2_batch_apply(spark, tmp_path, capsys):
    """scd2 subcommand: two sequential batch applies equal the one-shot
    build; re-running the same changelog is a no-op re-version."""
    import datetime

    from asset_prices_parquet_saver_spark.cli import main
    from asset_prices_parquet_saver_spark.operators.scd import (
        scd2_from_changelog,
    )
    from asset_prices_parquet_saver_spark.sources import manifest

    schema = "key string, ts timestamp, obs_id long, attr string"
    b1 = [("a", datetime.datetime(2024, 3, 1), 1, "x"),
          ("b", datetime.datetime(2024, 3, 1), 2, "p")]
    b2 = [("a", datetime.datetime(2024, 3, 2), 3, "y")]
    c1, c2 = str(tmp_path / "c1"), str(tmp_path / "c2")
    dim = str(tmp_path / "dim")
    spark.createDataFrame(b1, schema).write.parquet(c1)
    spark.createDataFrame(b2, schema).write.parquet(c2)

    base = ["scd2", "--dim", dim, "--key", "key", "--ts", "ts",
            "--attrs", "attr", "--tiebreak", "obs_id"]
    assert main(base + ["--changes", c1]) == 0
    assert main(base + ["--changes", c2]) == 0
    out = capsys.readouterr().out
    assert "version 2" in out and "3 version rows" in out

    got = sorted(
        (r["key"], r["version"], r["attr"], r["is_current"])
        for r in manifest.read_versioned(spark, dim).collect()
    )
    full = scd2_from_changelog(
        spark.createDataFrame(b1 + b2, schema), "key", "ts", ["attr"], "obs_id"
    )
    want = sorted(
        (r["key"], r["version"], r["attr"], r["is_current"])
        for r in full.collect()
    )
    assert got == want


def test_cli_curate_substring_scrub(spark, tmp_path, capsys):
    docs = str(tmp_path / "raw2.parquet")
    run = "alpha beta gamma delta epsilon zeta eta"
    filler1 = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the green hills where a river is winding of old stone"
    )
    filler2 = (
        "a tall ship sails the cold sea under bright stars while the "
        "old crew is singing songs of home and port and distant lands"
    )
    spark.createDataFrame(
        [
            (1, filler1 + " " + run),
            (2, run + " " + filler2),
        ],
        "doc_id long, text string",
    ).write.parquet(docs)
    rc = cli.main(
        [
            "curate",
            "--docs", docs,
            "--output", str(tmp_path / "curated2"),
            "--substring-scrub",
        ]
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "substring-scrubbed" in out
    rows = {
        r.doc_id: r.text
        for r in spark.read.parquet(str(tmp_path / "curated2")).collect()
    }
    # both docs survive (not near-dups) but the shared verbatim run is
    # excised from each
    assert set(rows) == {1, 2}
    for t in rows.values():
        assert "alpha beta gamma delta epsilon zeta eta" not in t
    assert rows[1].startswith("the quick brown fox")
    assert rows[2].endswith("distant lands")


def test_cli_mv_lifecycle(spark, tmp_path, capsys):
    from asset_prices_parquet_saver_spark.cli import main
    from asset_prices_parquet_saver_spark.sources import manifest as mf

    base, view = str(tmp_path / "base"), str(tmp_path / "mv")
    mf.commit_versioned(
        spark.createDataFrame(
            [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0)],
            "k STRING, sub STRING, value DOUBLE",
        ),
        base,
    )
    rc = main(
        [
            "mv", "create", view,
            "--base", base,
            "--group-cols", "k,sub",
            "--aggs", '[["n","count",null],["total","sum","value"]]',
        ]
    )
    assert rc == 0 and "version" in capsys.readouterr().out
    # noop refresh, then an append makes it incremental
    rc = main(["mv", "refresh", view])
    assert rc == 0 and "noop" in capsys.readouterr().out
    mf.commit_append(
        spark.createDataFrame([("b", "y", 5.0)], "k STRING, sub STRING, value DOUBLE"),
        base,
    )
    rc = main(["mv", "refresh", view])
    assert rc == 0 and "incremental" in capsys.readouterr().out
    rc = main(["mv", "read", view])
    assert rc == 0
    assert "total" in capsys.readouterr().out
    rc = main(["mv", "rollup", view, "--group-cols", "k"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "a" in out and "b" in out
    # arg validation
    assert main(["mv", "create", view]) == 2
    assert main(["mv", "rollup", view]) == 2
    # --aggs that parses as JSON but is the wrong SHAPE (dict, scalar,
    # or list of non-lists) must take the friendly rc=2 path, not an
    # opaque TypeError deep inside create_mv
    for bad in ('{"n": "count"}', '42', '["n","count",null]'):
        assert main(
            ["mv", "create", str(tmp_path / "bad2"), "--base", base,
             "--group-cols", "k", "--aggs", bad]
        ) == 2, bad


def test_cli_explain_prints_plan(sf_dir, capsys):
    from asset_prices_parquet_saver_spark.cli import main

    rc = main(["explain", "region_revenue", "--sf-dir", sf_dir])
    out = capsys.readouterr().out
    assert rc == 0
    assert "Physical Plan" in out and "PushedFilters" in out
    assert main(["explain", "nope_not_a_query"]) == 2


def test_cli_mv_hist_agg_spec(spark, tmp_path, capsys):
    """The hist kind's 4-element agg entry flows through the CLI's
    JSON --aggs unchanged: create, incremental refresh, read shows the
    quantile columns."""
    from asset_prices_parquet_saver_spark.cli import main
    from asset_prices_parquet_saver_spark.sources import manifest as mf

    base, view = str(tmp_path / "hb"), str(tmp_path / "hmv")
    mf.commit_versioned(
        spark.createDataFrame(
            [("a", 1.0), ("a", 6.5), ("b", 3.0)], "k STRING, value DOUBLE"
        ),
        base,
    )
    aggs = (
        '[["n","count",null],'
        '["value","hist","value",'
        '{"lo":0.0,"hi":8.0,"bins":4,"quantiles":{"p50":0.5}}]]'
    )
    rc = main(
        ["mv", "create", view, "--base", base, "--group-cols", "k",
         "--aggs", aggs]
    )
    assert rc == 0 and "version" in capsys.readouterr().out
    mf.commit_append(
        spark.createDataFrame([("b", 7.9)], "k STRING, value DOUBLE"), base
    )
    rc = main(["mv", "refresh", view])
    assert rc == 0 and "incremental" in capsys.readouterr().out
    rc = main(["mv", "read", view])
    out = capsys.readouterr().out
    assert rc == 0 and "value_p50" in out
    # bad hist params surface as the create-time ValueError, not a
    # traceback-free silent success
    import pytest as _pytest

    with _pytest.raises(ValueError):
        main(
            ["mv", "create", str(tmp_path / "bad"), "--base", base,
             "--group-cols", "k",
             "--aggs", '[["v","hist","value",{"lo":1.0,"hi":1.0,"bins":4,'
                       '"quantiles":{"p50":0.5}}]]']
        )


def test_cli_mv_topk_agg_spec(spark, tmp_path, capsys):
    """The topk kind's 4-element agg entry flows through the CLI's
    JSON --aggs unchanged: create, incremental refresh, read shows the
    top-k column pairs; bad params take the create-time ValueError."""
    from asset_prices_parquet_saver_spark.cli import main
    from asset_prices_parquet_saver_spark.sources import manifest as mf

    base, view = str(tmp_path / "tb"), str(tmp_path / "tmv")
    mf.commit_versioned(
        spark.createDataFrame(
            [("a", "x"), ("a", "x"), ("a", "y"), ("b", "q")],
            "k STRING, v STRING",
        ),
        base,
    )
    aggs = (
        '[["n","count",null],'
        '["top","topk","v",{"capacity":8,"k":2}]]'
    )
    rc = main(
        ["mv", "create", view, "--base", base, "--group-cols", "k",
         "--aggs", aggs]
    )
    assert rc == 0 and "version" in capsys.readouterr().out
    mf.commit_append(
        spark.createDataFrame([("b", "r"), ("b", "r")], "k STRING, v STRING"),
        base,
    )
    rc = main(["mv", "refresh", view])
    assert rc == 0 and "incremental" in capsys.readouterr().out
    rc = main(["mv", "read", view])
    out = capsys.readouterr().out
    assert rc == 0 and "top_1" in out and "top_2_n" in out
    import pytest as _pytest

    with _pytest.raises(ValueError, match="topk needs params"):
        main(
            ["mv", "create", str(tmp_path / "badtk"), "--base", base,
             "--group-cols", "k",
             "--aggs", '[["t","topk","v",{"capacity":2,"k":3}]]']
        )


def test_cli_mv_bloom_probe(spark, tmp_path, capsys):
    """mv probe: create a bloom view, probe a parquet of candidates,
    seen values print 1; arg/name validation takes the rc=2 path."""
    from asset_prices_parquet_saver_spark.cli import main
    from asset_prices_parquet_saver_spark.sources import manifest as mf

    base, view = str(tmp_path / "bb"), str(tmp_path / "bmv")
    mf.commit_versioned(
        spark.createDataFrame(
            [("a", "x"), ("a", "y"), ("b", "z")], "k STRING, v STRING"
        ),
        base,
    )
    rc = main(
        ["mv", "create", view, "--base", base, "--group-cols", "k",
         "--aggs",
         '[["seen","bloom","v",{"m":1920,"hashes":4}],["n","count",null]]']
    )
    assert rc == 0
    capsys.readouterr()
    probes = str(tmp_path / "probes.parquet")
    spark.createDataFrame(
        [("a", "x"), ("a", "nope"), ("b", "z")], "k STRING, v STRING"
    ).write.parquet(probes)
    rc = main(
        ["mv", "probe", view, "--agg", "seen", "--probes", probes,
         "--col", "v"]
    )
    out = capsys.readouterr().out
    assert rc == 0 and "might_contain" in out
    assert main(["mv", "probe", view]) == 2
    rc = main(
        ["mv", "probe", view, "--agg", "nope", "--probes", probes,
         "--col", "v"]
    )
    assert rc == 2 and "no bloom agg" in capsys.readouterr().err
