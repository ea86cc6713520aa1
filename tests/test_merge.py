"""Unit + property tests for the keep-latest upsert (J4; SURVEY §5.2/§5.4).

Invariants from update_live_price.py:250-283: after any tick sequence,
≤1 row per (symbol, date); adj_close equals the last valid tick of that
date; existing non-adj_close columns survive; new dates appear as
NULL-padded rows.
"""

from __future__ import annotations

import datetime

from hypothesis import given, settings, strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from asset_prices_parquet_saver_spark.operators.merge import (
    last_price_per_symbol,
    latest_ticks_per_day,
    upsert_live_prices,
)
from asset_prices_parquet_saver_spark.schema import BAR_SCHEMA


def _bar(symbol, day, **vals):
    base = dict.fromkeys(
        ["open", "high", "low", "adj_close", "volume", "trade_count", "vwap"]
    )
    base.update(vals)
    return Row(
        source="alpaca",
        symbol=symbol,
        timestamp=datetime.datetime(2024, 1, day),
        **base,
    )


def _tick(symbol, day, hour, price, us=0):
    return Row(
        symbol=symbol,
        price=price,
        ts=datetime.datetime(2024, 1, day, hour, 0, 0, us),
    )


def _upsert(prices, ticks):
    """The J4 merge as the live sink calls it: one source's bars keyed
    by day against the batch's last tick per (symbol, day)."""
    existing = prices.withColumn("day", F.to_date("timestamp"))
    return upsert_live_prices(existing, latest_ticks_per_day(ticks))


def test_update_existing_date_overwrites_only_adj_close(spark):
    prices = spark.createDataFrame(
        [_bar("AAPL", 2, open=1.0, high=2.0, low=0.5, adj_close=1.5, volume=9.0)],
        BAR_SCHEMA,
    )
    ticks = spark.createDataFrame([_tick("AAPL", 2, 15, 99.0)])
    out = _upsert(prices, ticks).collect()
    assert len(out) == 1
    row = out[0]
    assert row.adj_close == 99.0
    assert (row.open, row.high, row.low, row.volume) == (1.0, 2.0, 0.5, 9.0)
    # the existing bar's timestamp is preserved (update-in-place)
    assert row.timestamp == datetime.datetime(2024, 1, 2)


def test_new_date_appends_null_padded_row(spark):
    prices = spark.createDataFrame([_bar("AAPL", 2, adj_close=1.0)], BAR_SCHEMA)
    ticks = spark.createDataFrame([_tick("AAPL", 3, 10, 50.0)])
    out = {r.timestamp.day: r for r in _upsert(prices, ticks).collect()}
    assert set(out) == {2, 3}
    new = out[3]
    assert new.adj_close == 50.0
    assert new.open is None and new.volume is None and new.vwap is None


def test_last_write_wins_within_date(spark):
    prices = spark.createDataFrame([], BAR_SCHEMA)
    ticks = spark.createDataFrame(
        [_tick("AAPL", 2, 10, 1.0), _tick("AAPL", 2, 15, 2.0), _tick("AAPL", 2, 12, 3.0)]
    )
    out = _upsert(prices, ticks).collect()
    assert len(out) == 1
    assert out[0].adj_close == 2.0  # 15:00 is latest


def test_invalid_ticks_filtered(spark):
    ticks = spark.createDataFrame(
        [
            _tick("AAPL", 2, 10, 1.0),
            Row(symbol="AAPL", price=None, ts=datetime.datetime(2024, 1, 2, 16)),
            Row(symbol="AAPL", price=5.0, ts=None),
        ]
    )
    out = latest_ticks_per_day(ticks).collect()
    assert len(out) == 1 and out[0].price == 1.0


def test_other_sources_untouched(spark, tmp_path):
    from asset_prices_parquet_saver_spark.sources.prices_daily import (
        merge_ticks_incremental,
        read_prices_daily,
        write_prices_daily,
    )

    path = str(tmp_path / "prices")
    prices = spark.createDataFrame(
        [
            _bar("AAPL", 2, adj_close=1.0),
            Row(**{**_bar("AAPL", 2, adj_close=7.0).asDict(), "source": "yfinance"}),
        ],
        BAR_SCHEMA,
    )
    write_prices_daily(prices, path)
    ticks = spark.createDataFrame([_tick("AAPL", 2, 15, 99.0)])
    merge_ticks_incremental(spark, path, ticks, source="alpaca")
    by_source = {r.source: r for r in read_prices_daily(spark, path).collect()}
    assert by_source["alpaca"].adj_close == 99.0
    assert by_source["yfinance"].adj_close == 7.0


def test_last_price_per_symbol(spark):
    prices = spark.createDataFrame(
        [
            _bar("AAPL", 2, adj_close=1.0),
            _bar("AAPL", 3, adj_close=2.0),
            _bar("MSFT", 2, adj_close=9.0),
        ],
        BAR_SCHEMA,
    )
    snap = {r.symbol: r.price for r in last_price_per_symbol(prices).collect()}
    assert snap == {"AAPL": 2.0, "MSFT": 9.0}


@settings(max_examples=10, deadline=None)
@given(
    ticks=st.lists(
        st.tuples(
            st.sampled_from(["A", "B"]),
            st.integers(min_value=1, max_value=4),  # day
            st.integers(min_value=0, max_value=23),  # hour
            st.integers(min_value=0, max_value=999999),  # microsecond
            st.floats(min_value=0.01, max_value=1e6, allow_nan=False),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_property_upsert_invariants(spark, ticks):
    tick_rows = [
        Row(symbol=s, price=p, ts=datetime.datetime(2024, 1, d, h, 0, 0, us))
        for s, d, h, us, p in ticks
    ]
    prices = spark.createDataFrame([], BAR_SCHEMA)
    out = _upsert(prices, spark.createDataFrame(tick_rows)).collect()
    # ≤1 row per (symbol, date)
    keys = [(r.symbol, r.timestamp.date()) for r in out]
    assert len(keys) == len(set(keys))
    # adj_close = last tick (by floored-to-second ts) of that (symbol, date)
    expected = {}
    for s, d, h, us, p in ticks:
        key = (s, datetime.date(2024, 1, d))
        ts = datetime.datetime(2024, 1, d, h)  # floor('second') zeroes us
        prev = expected.get(key)
        if prev is None or ts >= prev[0]:
            if prev is None or ts > prev[0]:
                expected[key] = (ts, p)
            # equal floored ts: keep-latest is ts-deterministic only;
            # accept either tick (the reference is order-dependent too)
    for r in out:
        key = (r.symbol, r.timestamp.date())
        assert key in expected


# ---------------------------------------------------------------------
# merge_into: generalized three-clause MERGE (J4 generalization)
# ---------------------------------------------------------------------

from pyspark.sql import functions as F  # noqa: E402

from asset_prices_parquet_saver_spark.operators import merge  # noqa: E402


def _mi_frames(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "id INT, tag STRING, price DOUBLE",
    )
    source = spark.createDataFrame(
        [(2, 25.0, False), (3, 0.0, True), (5, 50.0, False), (6, 60.0, True)],
        "id INT, price DOUBLE, kill BOOLEAN",
    )
    return target, source


def test_merge_into_three_clauses(spark):
    target, source = _mi_frames(spark)
    out = merge.merge_into(
        target,
        source,
        ["id"],
        matched_update={"price": F.col("s.price")},
        matched_delete_condition=F.col("s.kill"),
        not_matched_insert={
            "id": F.col("s.id"),
            "tag": F.lit("new"),
            "price": F.col("s.price"),
        },
        not_matched_insert_condition=~F.col("s.kill"),
    )
    rows = {r.id: (r.tag, r.price) for r in out.collect()}
    # 1,4: target-only kept; 2: updated; 3: matched+kill deleted;
    # 5: inserted; 6: insert condition false -> dropped
    assert rows == {
        1: ("a", 10.0),
        2: ("b", 25.0),
        4: ("d", 40.0),
        5: ("new", 50.0),
    }


def test_merge_into_by_source_delete_and_default_insert(spark):
    target, source = _mi_frames(spark)
    out = merge.merge_into(
        target,
        source.drop("kill"),
        ["id"],
        matched_update={"price": F.col("t.price") + F.col("s.price")},
        matched_update_condition=F.col("s.price") > 0,
        not_matched_insert=True,
        not_matched_by_source_delete_condition=F.col("t.id") == 4,
    )
    rows = {r.id: (r.tag, r.price) for r in out.collect()}
    # default insert NULL-pads tag (source lacks it); id=3 matched but
    # update condition false -> kept verbatim; id=4 deleted by-source
    assert rows == {
        1: ("a", 10.0),
        2: ("b", 45.0),
        3: ("c", 30.0),
        5: (None, 50.0),
        6: (None, 60.0),
    }


def test_merge_into_no_insert_left_join(spark):
    target, source = _mi_frames(spark)
    out = merge.merge_into(
        target,
        source,
        ["id"],
        matched_update={"price": F.col("s.price")},
        not_matched_insert=False,
    )
    rows = {r.id: r.price for r in out.collect()}
    assert rows == {1: 10.0, 2: 25.0, 3: 0.0, 4: 40.0}
    # with inserts disabled the plan is a LEFT join, not full outer
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "FullOuter" not in plan


def test_merge_into_unique_source_check(spark):
    target, _ = _mi_frames(spark)
    dup_source = spark.createDataFrame(
        [(2, 1.0), (2, 2.0)], "id INT, price DOUBLE"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="duplicate"):
        merge.merge_into(
            target,
            dup_source,
            ["id"],
            matched_update={"price": F.col("s.price")},
            verify_unique_source=True,
        )


def test_merge_into_null_safe_keys(spark):
    target = spark.createDataFrame(
        [(None, 1.0), (7, 2.0)], "id INT, price DOUBLE"
    )
    source = spark.createDataFrame([(None, 9.0)], "id INT, price DOUBLE")
    out = merge.merge_into(
        target,
        source,
        ["id"],
        matched_update={"price": F.col("s.price")},
    )
    rows = {r.id: r.price for r in out.collect()}
    assert rows == {None: 9.0, 7: 2.0}


def test_merge_into_table_transactional(spark, tmp_path):
    from asset_prices_parquet_saver_spark.sources import manifest as mf

    table = str(tmp_path / "t")
    mf.commit_versioned(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0)], "id INT, price DOUBLE"
        ),
        table,
    )
    src = spark.createDataFrame(
        [(2, 25.0), (4, 40.0)], "id INT, price DOUBLE"
    )
    v = merge.merge_into_table(
        spark,
        table,
        src,
        ["id"],
        matched_update={"price": F.col("s.price")},
        matched_delete_condition=F.col("t.id") == 3,
    )
    # src has no id=3, so the matched-delete clause never fires for it
    # (delete requires a match): it must survive; the update and the
    # insert land in the same atomic commit
    rows = {
        r.id: r.price for r in mf.read_versioned(spark, table).collect()
    }
    assert rows == {1: 10.0, 2: 25.0, 3: 30.0, 4: 40.0}
    assert mf.current_version(table) == v
    # old snapshot still time-travelable
    old = {
        r.id: r.price
        for r in mf.read_versioned(spark, table, version=v - 1).collect()
    }
    assert old == {1: 10.0, 2: 20.0, 3: 30.0}


def test_merge_into_table_conflict(spark, tmp_path):
    """A commit that lands between the read and the publish must raise,
    not silently vanish."""
    import pytest as _pytest

    from asset_prices_parquet_saver_spark.sources import manifest as mf

    table = str(tmp_path / "t")
    mf.commit_versioned(
        spark.createDataFrame([(1, 1.0)], "id INT, price DOUBLE"), table
    )
    src = spark.createDataFrame([(1, 2.0)], "id INT, price DOUBLE")

    real_read = mf.read_versioned

    def race_then_read(*a, **k):
        out = real_read(*a, **k)
        # interleave a concurrent append AFTER the merge's read
        mf.commit_append(
            a[0].createDataFrame([(9, 9.0)], "id INT, price DOUBLE"),
            table,
        )
        return out

    from unittest import mock

    with mock.patch.object(
        mf, "read_versioned", side_effect=race_then_read
    ):
        with _pytest.raises(mf.CommitConflict):
            merge.merge_into_table(
                spark, table, src, ["id"],
                matched_update={"price": F.col("s.price")},
            )
    # the concurrent append survived untouched
    rows = {
        r.id: r.price for r in mf.read_versioned(spark, table).collect()
    }
    assert rows == {1: 1.0, 9: 9.0}


@settings(max_examples=8, deadline=None)
@given(
    tgt=st.dictionaries(
        st.integers(0, 9), st.floats(-100, 100, allow_nan=False),
        max_size=8,
    ),
    src=st.dictionaries(
        st.integers(0, 12),
        st.tuples(
            st.floats(-100, 100, allow_nan=False), st.booleans()
        ),
        max_size=8,
    ),
)
def test_property_merge_into_matches_reference(spark, tgt, src):
    """merge_into == a dict-based reference for arbitrary key overlap:
    matched+kill -> delete, matched -> update, source-only -> insert,
    target-only -> keep."""
    expected = {}
    for k, v in tgt.items():
        if k in src:
            price, kill = src[k]
            if not kill:
                expected[k] = price
        else:
            expected[k] = v
    for k, (price, kill) in src.items():
        if k not in tgt:
            expected[k] = price

    target = spark.createDataFrame(
        [(k, v) for k, v in tgt.items()] or [(None, None)],
        "id INT, price DOUBLE",
    ).filter(F.col("id").isNotNull())
    source = spark.createDataFrame(
        [(k, p, kl) for k, (p, kl) in src.items()] or [(None, None, None)],
        "id INT, price DOUBLE, kill BOOLEAN",
    ).filter(F.col("id").isNotNull())
    out = merge.merge_into(
        target,
        source,
        ["id"],
        matched_update={"price": F.col("s.price")},
        matched_delete_condition=F.col("s.kill"),
        not_matched_insert={
            "id": F.col("s.id"), "price": F.col("s.price"),
        },
    )
    assert {r.id: r.price for r in out.collect()} == expected


def test_merge_into_validates_keys_and_update_columns(spark):
    import pytest as _pytest

    target, source = _mi_frames(spark)
    with _pytest.raises(ValueError, match="empty merge-key"):
        merge.merge_into(target, source, [],
                         matched_update={"price": F.col("s.price")})
    with _pytest.raises(ValueError, match="not .*target columns"):
        merge.merge_into(target, source, ["id"],
                         matched_update={"nope": F.lit(1)})
    with _pytest.raises(ValueError, match="not .*target columns"):
        merge.merge_into(target, source, ["id"],
                         not_matched_insert={"nope": F.lit(1)})


def test_merge_into_null_delete_condition_keeps_row(spark):
    """SQL/Delta MERGE: a delete clause whose condition evaluates NULL
    is NOT satisfied — the row is kept. The unguarded `~drop` filter
    silently deleted rows whose condition compared a NULL column, for
    BOTH delete clauses."""
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0)],
        "id INT, tag STRING, price DOUBLE",
    )
    source = spark.createDataFrame(
        [(1, None), (2, None), (4, 5.0)], "id INT, price DOUBLE"
    )
    out = merge.merge_into(
        target,
        source,
        ["id"],
        not_matched_insert=None,
        # NULL source price -> condition NULL for ids 1 and 2
        matched_delete_condition=F.col("s.price") > 100.0,
        # NULL target price -> condition NULL for id 2 (but id 2 is
        # matched); id 3 is target-only with a real false condition
        not_matched_by_source_delete_condition=F.col("t.price") < 0.0,
    )
    rows = {r.id: (r.tag, r.price) for r in out.collect()}
    assert rows == {1: ("a", 10.0), 2: ("b", None), 3: ("c", 30.0)}


def test_merge_into_null_by_source_delete_keeps_null_price_row(spark):
    """Target-only row whose by-source delete condition is NULL (NULL
    column in the comparison) must survive."""
    target = spark.createDataFrame(
        [(1, "a", None), (2, "b", -1.0)], "id INT, tag STRING, price DOUBLE"
    )
    source = spark.createDataFrame([(9, 1.0)], "id INT, price DOUBLE")
    out = merge.merge_into(
        target,
        source,
        ["id"],
        not_matched_insert=None,
        not_matched_by_source_delete_condition=F.col("t.price") < 0.0,
    )
    rows = {r.id: (r.tag, r.price) for r in out.collect()}
    # id=1: condition NULL -> kept; id=2: condition true -> deleted
    assert rows == {1: ("a", None)}
