"""Manifest-pointer commit protocol (sources/manifest.py): version
advance, retention, compaction, and reader isolation."""

import os

from asset_prices_parquet_saver_spark.sources import manifest


def _df(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "x long")


def test_commit_read_roundtrip_and_retention(spark, tmp_path):
    t = str(tmp_path / "tbl")
    assert manifest.commit_versioned(_df(spark, [1, 2]), t) == 1
    assert manifest.commit_versioned(_df(spark, [3]), t) == 2
    assert manifest.commit_versioned(_df(spark, [4, 5, 6]), t) == 3
    assert manifest.current_version(t) == 3
    got = sorted(r["x"] for r in manifest.read_versioned(spark, t).collect())
    assert got == [4, 5, 6]
    # keep=1: the previous committed snapshot survives for in-flight
    # readers, older ones are gone
    dirs = sorted(n for n in os.listdir(t) if n.startswith("v"))
    assert dirs == ["v00000002", "v00000003"]


def test_reader_of_old_snapshot_survives_commit(spark, tmp_path):
    t = str(tmp_path / "tbl")
    manifest.commit_versioned(_df(spark, [1, 2, 3]), t)
    old = manifest.read_versioned(spark, t)  # lazy plan over v1
    manifest.commit_versioned(_df(spark, [9]), t)  # v2 published
    # v1's files are immutable and retained (keep=1) — the stale plan
    # still executes correctly after the commit
    assert sorted(r["x"] for r in old.collect()) == [1, 2, 3]
    assert sorted(r["x"] for r in manifest.read_versioned(spark, t).collect()) == [9]


def test_compact_versioned_single_file(spark, tmp_path):
    t = str(tmp_path / "tbl")
    manifest.commit_versioned(_df(spark, range(100)).repartition(8), t)
    v = manifest.compact_versioned(spark, t, num_files=1)
    assert v == 2
    files = [
        n
        for n in os.listdir(os.path.join(t, "v00000002"))
        if n.endswith(".parquet")
    ]
    assert len(files) == 1
    got = sorted(r["x"] for r in manifest.read_versioned(spark, t).collect())
    assert got == list(range(100))


def test_empty_table_with_schema(spark, tmp_path):
    t = str(tmp_path / "missing")
    df = manifest.read_versioned(spark, t, "x long")
    assert df.count() == 0


def test_time_travel_reads(spark, tmp_path):
    t = str(tmp_path / "tbl")
    manifest.commit_versioned(_df(spark, [1, 2]), t)
    manifest.commit_versioned(_df(spark, [3]), t)
    # one generation back is always readable (GC retains prev segments)
    old = sorted(
        r["x"] for r in manifest.read_versioned(spark, t, version=1).collect()
    )
    assert old == [1, 2]
    manifest.commit_versioned(_df(spark, [4]), t)
    # v1's segment is now GC'd: time-travel fails loudly, not wrongly
    import pytest

    with pytest.raises(FileNotFoundError, match="GC'd segment"):
        manifest.read_versioned(spark, t, version=1)
    assert sorted(
        r["x"] for r in manifest.read_versioned(spark, t, version=2).collect()
    ) == [3]


def test_commit_lock_serializes_local_writers(spark, tmp_path, monkeypatch):
    import os
    import pytest

    from asset_prices_parquet_saver_spark.sources import manifest as m

    t = str(tmp_path / "locked")
    df = spark.createDataFrame([(1,)], "x long")
    m.commit_versioned(df, t)  # creates the table; lock released after
    lock = os.path.join(t, "_MANIFEST.lock")
    assert not os.path.exists(lock)  # released on success
    # a held lock blocks the next committer until timeout
    monkeypatch.setattr(m, "LOCK_TIMEOUT_SECONDS", 0.3)
    with open(lock, "w") as fh:
        fh.write("12345")
    with pytest.raises(TimeoutError, match="lock"):
        m.commit_versioned(df, t)
    os.remove(lock)
    # and the table is untouched by the failed commit
    assert m.current_version(t) == 1
    m.commit_versioned(df, t)
    assert m.current_version(t) == 2


def test_snapshot_diff_append_fast_path(spark, tmp_path):
    from asset_prices_parquet_saver_spark.sources import manifest

    table = str(tmp_path / "t")
    v1 = manifest.commit_append(
        spark.createDataFrame([(1, "a")], "id long, s string"), table
    )
    manifest.commit_append(
        spark.createDataFrame([(2, "b"), (3, "c")], "id long, s string"), table
    )
    d = manifest.snapshot_diff(spark, table, v1)
    rows = {(r["id"], r["change"]) for r in d.collect()}
    assert rows == {(2, "insert"), (3, "insert")}
    # fast path: the diff plan reads only the delta segments — no
    # exceptAll (which would show up as a join/aggregate in the plan)
    plan = d._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Aggregate" not in plan


def test_snapshot_diff_rewrite_reports_deletes(spark, tmp_path):
    from asset_prices_parquet_saver_spark.sources import manifest

    table = str(tmp_path / "t")
    v1 = manifest.commit_versioned(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string"), table
    )
    manifest.commit_versioned(
        spark.createDataFrame([(2, "b"), (9, "z")], "id long, s string"), table
    )
    d = manifest.snapshot_diff(spark, table, v1)
    rows = {(r["id"], r["change"]) for r in d.collect()}
    assert rows == {(9, "insert"), (1, "delete")}


def test_snapshot_diff_same_version_is_empty(spark, tmp_path):
    from asset_prices_parquet_saver_spark.sources import manifest

    table = str(tmp_path / "t")
    v1 = manifest.commit_append(
        spark.createDataFrame([(1, "a")], "id long, s string"), table
    )
    assert manifest.snapshot_diff(spark, table, v1, v1).count() == 0


def test_zone_map_prunes_segments_and_read_range_is_exact(spark, tmp_path):
    """Segment-level data skipping: three appends with disjoint key
    ranges + stats_cols → a range read keeps only the overlapping
    segment, and equals filter-on-full-read exactly."""
    from asset_prices_parquet_saver_spark.sources import manifest

    table = str(tmp_path / "t")
    for lo in (0, 100, 200):
        df = spark.createDataFrame(
            [(lo + i, f"r{lo + i}") for i in range(10)], "k long, s string"
        )
        manifest.commit_append(df, table, stats_cols=["k"])

    kept, total = manifest.prune_segments(table, "k", 100, 105)
    assert total == 3 and len(kept) == 1

    got = {r["k"] for r in manifest.read_range(spark, table, "k", 100, 105).collect()}
    want = {
        r["k"]
        for r in manifest.read_versioned(spark, table)
        .filter("k BETWEEN 100 AND 105")
        .collect()
    }
    assert got == want and len(got) == 6

    # unbounded side + no-overlap cases
    assert manifest.read_range(spark, table, "k", lo=205).count() == 5
    assert manifest.read_range(spark, table, "k", lo=1000).count() == 0


def test_zone_map_absent_stats_is_conservative(spark, tmp_path):
    from asset_prices_parquet_saver_spark.sources import manifest

    table = str(tmp_path / "t")
    manifest.commit_append(
        spark.createDataFrame([(1,)], "k long"), table  # no stats_cols
    )
    manifest.commit_append(
        spark.createDataFrame([(500,)], "k long"), table, stats_cols=["k"]
    )
    kept, total = manifest.prune_segments(table, "k", 0, 10)
    # the stats-less segment must be kept; the 500-segment prunes
    assert total == 2 and len(kept) == 1
    assert {r["k"] for r in manifest.read_range(spark, table, "k", 0, 10).collect()} == {1}


def test_zone_map_survives_compaction_rewrite(spark, tmp_path):
    from asset_prices_parquet_saver_spark.sources import manifest

    table = str(tmp_path / "t")
    manifest.commit_append(
        spark.createDataFrame([(i,) for i in range(10)], "k long"), table,
        stats_cols=["k"],
    )
    # rewrite without stats: the old zone map must NOT survive onto the
    # new segment list (stale bounds would prune wrongly)
    manifest.commit_versioned(
        spark.createDataFrame([(1000,)], "k long"), table
    )
    kept, total = manifest.prune_segments(table, "k", 0, 10)
    assert total == 1 and len(kept) == 1  # conservative: no stats → kept
    assert manifest.read_range(spark, table, "k", 0, 10).count() == 0


def test_read_versioned_merge_schema_evolution(spark, tmp_path):
    """Append-log schema evolution: a later segment adds a column;
    merge_schema=True surfaces it (NULL on old rows) while the default
    read keeps the original narrow schema."""
    from asset_prices_parquet_saver_spark.sources import manifest

    table = str(tmp_path / "t")
    manifest.commit_append(spark.createDataFrame([(1, "a")], "id long, s string"), table)
    manifest.commit_append(
        spark.createDataFrame([(2, "b", 9.5)], "id long, s string, extra double"), table
    )
    merged = manifest.read_versioned(spark, table, merge_schema=True)
    assert "extra" in merged.columns
    got = {r["id"]: r["extra"] for r in merged.collect()}
    assert got == {1: None, 2: 9.5}


def test_vacuum_history_bounds_manifest_copies(spark, tmp_path):
    from asset_prices_parquet_saver_spark.sources import manifest

    table = str(tmp_path / "t")
    for i in range(6):
        manifest.commit_append(
            spark.createDataFrame([(i,)], "id long"), table
        )
    removed = manifest.vacuum_history(table, keep_last=2)
    assert removed == 4
    # newest history copy still resolves; vacuumed ones raise cleanly
    assert manifest.read_versioned(spark, table, version=6).count() == 6
    import pytest

    with pytest.raises(FileNotFoundError):
        manifest.read_versioned(spark, table, version=1)
    # the live read is unaffected
    assert manifest.read_versioned(spark, table).count() == 6


def test_expect_version_conflict_raises(spark, tmp_path):
    """Optimistic concurrency for read-fold-rewrite callers: a rewrite
    pinned to the version it read must ABORT if a concurrent commit
    landed in between — silently publishing would fold the concurrent
    segment out of existence (and its txn record would block replay)."""
    import pytest

    t = str(tmp_path / "tbl")
    manifest.commit_versioned(_df(spark, [1]), t)          # v1
    v = manifest.current_version(t)
    manifest.commit_append(_df(spark, [2]), t)             # concurrent v2
    with pytest.raises(manifest.CommitConflict):
        manifest.commit_versioned(_df(spark, [1]), t, expect_version=v)
    # the concurrent append is intact
    got = sorted(r["x"] for r in manifest.read_versioned(spark, t).collect())
    assert got == [1, 2]
    # and a fresh read-pin commits fine
    v2 = manifest.current_version(t)
    assert manifest.commit_versioned(_df(spark, [9]), t, expect_version=v2) == 3


def test_first_commit_leaves_legacy_files_for_inflight_readers(spark, tmp_path):
    """The legacy -> v1 transition must give loose-file readers the same
    one-commit grace the segment GC gives snapshot readers: a plan that
    pinned the legacy parquet paths survives the first versioned commit
    and the files are swept on the SECOND."""
    t = str(tmp_path / "tbl")
    _df(spark, [1, 2]).write.mode("overwrite").parquet(t)
    legacy_plan = manifest.read_versioned(spark, t)  # pins loose paths
    absorbed = spark.createDataFrame([(1,), (2,)], "x long")
    manifest.commit_versioned(absorbed, t)           # v1: absorb
    # the pinned legacy files are still readable mid-flight
    assert sorted(r["x"] for r in legacy_plan.collect()) == [1, 2]
    assert any(n.endswith(".parquet") for n in os.listdir(t))
    manifest.commit_versioned(_df(spark, [3]), t)    # v2 sweeps legacy
    assert not any(n.endswith(".parquet") for n in os.listdir(t))


def test_status_write_read_roundtrip(spark, tmp_path):
    """write_status persists atomically through the manifest (no parquet
    self-overwrite dance) and read_status of a missing table is a typed
    empty frame — but real store errors are NOT swallowed into 'no
    status rows'."""
    import datetime as dt

    from asset_prices_parquet_saver_spark.sources import status as st

    path = str(tmp_path / "symbol_status")
    assert st.read_status(spark, path).count() == 0  # missing -> empty
    rows = spark.createDataFrame(
        [("AAPL", "alpaca", "invalid", dt.datetime(2024, 1, 1))],
        "symbol string, source string, status string, updated_at timestamp",
    )
    st.write_status(spark, path, rows)
    later = spark.createDataFrame(
        [("AAPL", "alpaca", "invalid", dt.datetime(2024, 2, 1)),
         ("MSFT", "alpaca", "no_data", dt.datetime(2024, 1, 5))],
        "symbol string, source string, status string, updated_at timestamp",
    )
    st.write_status(spark, path, later)
    got = {(r["symbol"], r["status"]): r["updated_at"]
           for r in st.read_status(spark, path).collect()}
    assert len(got) == 2
    import datetime as dt2
    assert got[("AAPL", "invalid")] == dt2.datetime(2024, 2, 1)


def test_status_concurrent_writer_retries_not_lost(spark, tmp_path):
    """Two status writers racing: the second's read-fold-rewrite must
    NOT fold away the first's rows. The seam lands a concurrent commit
    between the merge read and the CAS publish — expect_version
    conflicts, write_status retries against the fresh snapshot, and
    BOTH writers' rows survive."""
    import datetime as dt

    from asset_prices_parquet_saver_spark.sources import status as st

    path = str(tmp_path / "symbol_status")
    st.write_status(spark, path, spark.createDataFrame(
        [("AAPL", "alpaca", "invalid", dt.datetime(2024, 1, 1))],
        "symbol string, source string, status string, updated_at timestamp",
    ))

    other = spark.createDataFrame(
        [("TSLA", "alpaca", "no_data", dt.datetime(2024, 1, 2))],
        "symbol string, source string, status string, updated_at timestamp",
    )
    fired = []

    def concurrent_commit():
        if not fired:  # only on the FIRST attempt — the retry must win
            fired.append(1)
            hook, st._test_pre_commit_hook = st._test_pre_commit_hook, None
            try:
                st.write_status(spark, path, other)
            finally:
                st._test_pre_commit_hook = hook

    mine = spark.createDataFrame(
        [("MSFT", "yfinance", "invalid", dt.datetime(2024, 1, 3))],
        "symbol string, source string, status string, updated_at timestamp",
    )
    st._test_pre_commit_hook = concurrent_commit
    try:
        st.write_status(spark, path, mine)
    finally:
        st._test_pre_commit_hook = None

    got = {(r["symbol"], r["source"]) for r in st.read_status(spark, path).collect()}
    assert got == {("AAPL", "alpaca"), ("TSLA", "alpaca"), ("MSFT", "yfinance")}
    assert fired  # the race actually happened


def test_delete_rows_atomic_rewrite(spark, tmp_path):
    """Corpus-side compliance delete: the predicate's rows vanish in
    ONE atomic commit; the prior snapshot remains time-travelable
    until vacuum_history makes the deletion physical; a concurrent
    append between read and rewrite raises CommitConflict."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    t = str(tmp_path / "docs")
    df = spark.createDataFrame(
        [Row(doc_id=i, src="a" if i % 2 else "b") for i in range(10)],
        "doc_id long, src string",
    )
    manifest.commit_versioned(df, t)
    removed, v = manifest.delete_rows(spark, t, F.col("src") == "b")
    assert removed == 5
    live = manifest.read_versioned(spark, t)
    assert live.filter(F.col("src") == "b").count() == 0
    assert live.count() == 5
    # prior snapshot still time-travelable (deletion not yet physical)
    old = manifest.read_versioned(spark, t, version=v - 1)
    assert old.count() == 10
    # after vacuuming history the old segments are gone
    manifest.vacuum_history(t, keep_last=1)
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        manifest.read_versioned(spark, t, version=v - 1).count()
    # conflict detection: stale expect_version surfaces, not lost rows
    manifest.commit_append(
        spark.createDataFrame([Row(doc_id=99, src="c")],
                              "doc_id long, src string"), t
    )
    assert manifest.read_versioned(spark, t).count() == 6


def test_maybe_compact_threshold_and_race(spark, tmp_path):
    """Under threshold: no-op (None, segments untouched). Over: folds
    to one segment. A racing append between the read and the publish
    is swallowed (None) and survives."""
    from unittest import mock

    from asset_prices_parquet_saver_spark.sources import manifest as mf

    table = str(tmp_path / "t")
    df = spark.createDataFrame([(1,)], "id INT")
    mf.commit_versioned(df, table)
    for _ in range(3):
        mf.commit_append(df, table)
    assert mf.segment_count(table) == 4
    assert mf.maybe_compact(spark, table, max_segments=4) is None
    assert mf.segment_count(table) == 4
    v = mf.maybe_compact(spark, table, max_segments=3)
    assert v is not None and mf.segment_count(table) == 1
    assert mf.read_versioned(spark, table).count() == 4

    # race: interleave an append after the policy's read
    for _ in range(3):
        mf.commit_append(df, table)
    real_read = mf.read_versioned

    def race(*a, **k):
        out = real_read(*a, **k)
        mf.commit_append(df, table)
        return out

    with mock.patch.object(mf, "read_versioned", side_effect=race):
        assert mf.maybe_compact(spark, table, max_segments=3) is None
    # the racer's append survived; table readable and complete
    assert mf.read_versioned(spark, table).count() == 8
