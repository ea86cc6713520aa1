"""URL canonicalization / registered-domain / crawl-dedup operators
(operators/urls.py) — edge-case pins beyond the gated oracle queries.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from asset_prices_parquet_saver_spark.operators import urls


def _canon(spark, raw: str) -> str:
    return (
        spark.createDataFrame([Row(u=raw)])
        .select(urls.canonical_url(F.col("u")).alias("c"))
        .collect()[0]["c"]
    )


@pytest.mark.parametrize(
    "raw,expected",
    [
        # scheme/host case, www, default port, trailing slash
        ("HTTPS://WWW.Example.COM:443/A/b/", "https://example.com/A/b"),
        ("http://www.example.com:80/x", "http://example.com/x"),
        # NON-default port survives
        ("https://example.com:8443/x", "https://example.com:8443/x"),
        # fragment dropped
        ("https://example.com/a#section-2", "https://example.com/a"),
        # tracking params dropped, rest sorted, ? dropped when empty
        (
            "https://example.com/a?utm_source=x&b=2&a=1&fbclid=zzz",
            "https://example.com/a?a=1&b=2",
        ),
        ("https://example.com/a?utm_source=x", "https://example.com/a"),
        # param ORDER never splits a page into two keys
        ("https://example.com/a?b=2&a=1", "https://example.com/a?a=1&b=2"),
        # bare host: no trailing slash either way
        ("https://example.com/", "https://example.com"),
        ("https://example.com", "https://example.com"),
        # path case preserved (paths ARE case-sensitive)
        ("https://example.com/CaseSensitive", "https://example.com/CaseSensitive"),
        # non-URL garbage: stable lowercase passthrough, never NULL
        ("Not A Url", "not a url"),
    ],
)
def test_canonical_url_cases(spark, raw, expected):
    assert _canon(spark, raw) == expected


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("https://news.bbc.co.uk/story", "bbc.co.uk"),
        ("https://www.example.com/x", "example.com"),
        ("http://sub.shop.com.au:8080/", "shop.com.au"),
        ("https://x.co/y", "x.co"),
        ("https://deep.a.b.example.org", "example.org"),
    ],
)
def test_registered_domain(spark, raw, expected):
    got = (
        spark.createDataFrame([Row(u=raw)])
        .select(urls.registered_domain(F.col("u")).alias("d"))
        .collect()[0]["d"]
    )
    assert got == expected


def test_url_dedup_keeps_min_tiebreak(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=5, url="https://WWW.Example.com/a/?utm_source=x"),
            Row(doc_id=3, url="https://example.com/a"),
            Row(doc_id=9, url="http://example.com/a"),  # http ≠ https
        ],
        "doc_id long, url string",
    )
    kept = {r["doc_id"] for r in urls.url_dedup(df, "url", "doc_id").collect()}
    assert kept == {3, 9}


def test_url_ops_stay_jvm_side(spark):
    """Scale guard: the whole URL family must compile to JVM
    expressions — no Python eval nodes (row-at-a-time or Arrow) in
    any plan, and the report's aggregate must be partial (map-side
    combinable: two HashAggregate levels)."""
    df = spark.createDataFrame(
        [Row(doc_id=1, url="https://www.example.com/a/?utm_source=x&b=2")],
        "doc_id long, url string",
    )
    for frame in (
        df.select(urls.canonical_url(F.col("url"))),
        df.select(urls.registered_domain(F.col("url"))),
        urls.url_dedup(df, "url", "doc_id"),
        urls.domain_report(df, "url"),
    ):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "mapInPandas" not in plan.lower()
    agg_plan = (
        urls.domain_report(df, "url")._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "partial_count" in agg_plan  # map-side combine before the exchange


def test_domain_report_rates(spark):
    df = spark.createDataFrame(
        [
            Row(url="https://www.example.com/a/"),
            Row(url="https://example.com/a"),   # same canonical as above
            Row(url="https://example.com/b"),
            Row(url="https://x.co/only"),
        ],
        "url string",
    )
    rows = {
        r["domain"]: (r["n_urls"], r["n_canonical"], r["dup_rate"])
        for r in urls.domain_report(df, "url").collect()
    }
    assert rows == {"example.com": (3, 2, 0.333333), "x.co": (1, 1, 0.0)}


def _seen(spark, path):
    from asset_prices_parquet_saver_spark.sources import manifest

    return manifest.read_versioned(spark, path, schema=urls.URL_INDEX_SCHEMA)


def test_frontier_filter_cross_batch_and_replay(spark, tmp_path):
    tbl = str(tmp_path / "seen")
    b1 = spark.createDataFrame(
        [
            Row(doc_id=1, url="https://www.example.com/a/"),
            Row(doc_id=2, url="https://example.com/a"),  # same page as 1
            Row(doc_id=3, url="https://example.com/b?utm_source=x"),
        ],
        "doc_id long, url string",
    )
    acc1 = urls.frontier_filter(spark, b1, tbl, "url", "doc_id")
    assert sorted(r.doc_id for r in acc1.collect()) == [1, 3]
    b2 = spark.createDataFrame(
        [
            Row(doc_id=9, url="HTTPS://EXAMPLE.com:443/a"),  # seen
            Row(doc_id=10, url="https://example.com/b"),     # seen
            Row(doc_id=11, url="https://example.com/c"),     # new
        ],
        "doc_id long, url string",
    )
    acc2 = urls.frontier_filter(spark, b2, tbl, "url", "doc_id")
    assert [r.doc_id for r in acc2.collect()] == [11]
    # replayed batch accepts nothing (its canonicals are indexed)
    assert urls.frontier_filter(spark, b2, tbl, "url", "doc_id").count() == 0
    # index holds exactly the accepted canonicals with claiming keys
    idx = {(r.canon, r.first_key) for r in _seen(spark, tbl).collect()}
    assert idx == {
        ("https://example.com/a", 1),
        ("https://example.com/b", 3),
        ("https://example.com/c", 11),
    }


def _two_batch_url_stream(spark, drop):
    drop.mkdir()
    spark.createDataFrame(
        [
            Row(doc_id=1, url="https://www.example.com/a/"),
            Row(doc_id=2, url="https://example.com/a#frag"),
        ],
        "doc_id long, url string",
    ).coalesce(1).write.parquet(str(drop / "b1"))
    spark.createDataFrame(
        [
            Row(doc_id=3, url="https://example.com/a?utm_source=x"),  # seen
            Row(doc_id=4, url="https://example.com/new"),
        ],
        "doc_id long, url string",
    ).coalesce(1).write.parquet(str(drop / "b2"))
    return (
        spark.readStream.schema("doc_id long, url string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop / "*"))
    )


def test_streaming_frontier_end_to_end(spark, tmp_path):
    from asset_prices_parquet_saver_spark.sources import manifest

    tbl = str(tmp_path / "seen")
    corpus = str(tmp_path / "crawl")
    stream = _two_batch_url_stream(spark, tmp_path / "drop")
    q = urls.run_streaming_frontier(
        spark, stream, tbl, corpus,
        checkpoint_dir=str(tmp_path / "ckpt"), available_now=True,
    )
    q.awaitTermination(120)
    got = sorted(
        r.doc_id
        for r in manifest.read_versioned(
            spark, corpus, schema="doc_id long, url string"
        ).collect()
    )
    # b1 sorts first: doc 1 claims /a; doc 3's copy rejected in b2
    assert got == [1, 4]


def test_streaming_frontier_epoch_replay_appends_nothing(spark, tmp_path):
    """A query restarted after its last epoch's sink ran, but before
    Spark logged the epoch done, re-runs that epoch: both commits are
    skipped by their txn records, so the seen-set and the corpus keep
    their segments and rows."""
    from asset_prices_parquet_saver_spark.sources import manifest

    tbl = str(tmp_path / "seen")
    corpus = str(tmp_path / "crawl")
    ckpt = tmp_path / "ckpt"
    stream = _two_batch_url_stream(spark, tmp_path / "drop")

    def run():
        q = urls.run_streaming_frontier(
            spark, stream, tbl, corpus, checkpoint_dir=str(ckpt),
            available_now=True,
        )
        q.awaitTermination(120)
        return [(p["batchId"], p["numInputRows"]) for p in q.recentProgress]

    def state():
        return (
            manifest.segment_count(tbl),
            sorted(tuple(r) for r in _seen(spark, tbl).collect()),
            manifest.segment_count(corpus),
            sorted(
                tuple(r)
                for r in manifest.read_versioned(
                    spark, corpus, schema="doc_id long, url string"
                ).collect()
            ),
        )

    run()
    before = state()
    assert before[0] == 2 and len(before[1]) == 2  # /a and /new
    # forget epoch 1's commit-log entry, as a kill after the sink would
    for name in ("1", ".1.crc"):
        (ckpt / "commits" / name).unlink(missing_ok=True)
    assert any(b == 1 and n > 0 for b, n in run())  # epoch 1 ran again
    assert state() == before


def test_streaming_frontier_requires_checkpoint(tmp_path):
    """Without a checkpoint a restarted query would reuse epoch ids
    whose txn records already exist and skip its commits; refuse it."""
    with pytest.raises(ValueError, match="checkpoint_dir"):
        urls.run_streaming_frontier(
            None, None, str(tmp_path / "seen"), str(tmp_path / "crawl")
        )


def test_streaming_frontier_folds_index_segments(spark, tmp_path):
    """Each epoch appends one seen-set segment; past maybe_compact's
    threshold the stream folds them into one, rows unchanged."""
    from asset_prices_parquet_saver_spark.sources import manifest

    tbl = str(tmp_path / "seen")
    for i in range(16):
        manifest.commit_append(
            spark.createDataFrame(
                [(f"https://old.example/{i}", 100 + i)], urls.URL_INDEX_SCHEMA
            ),
            tbl,
        )
    assert manifest.segment_count(tbl) == 16
    stream = _two_batch_url_stream(spark, tmp_path / "drop")
    q = urls.run_streaming_frontier(
        spark, stream, tbl, str(tmp_path / "crawl"),
        checkpoint_dir=str(tmp_path / "ckpt"), available_now=True,
    )
    q.awaitTermination(120)
    # epoch 0 made 17 segments and was folded to 1; epoch 1 appended one
    assert manifest.segment_count(tbl) == 2
    assert _seen(spark, tbl).count() == 18
