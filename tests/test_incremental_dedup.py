"""Incremental fuzzy dedup against a manifest-committed signature
index: batch-over-batch behavior must equal the match-any-predecessor
reference, and the index must grow by append-log commits."""

import os

from pyspark.sql import DataFrame, Row

from asset_prices_parquet_saver_spark.operators import incremental_dedup as inc
from asset_prices_parquet_saver_spark.sources import manifest

DOCS = [
    # batch 1
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "an entirely different document about spark engines"),
    (3, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
    # batch 2
    (10, "the quick brown fox jumps over the lazy dog"),  # dup of indexed 1
    (11, "fresh content that matches nothing else here at all"),
    (12, "fresh content that matches nothing else here at ALL"),  # near-dup of 11
    # drops vs dropped SAME-BATCH 12 (jac 0.5) but not survivor 11 (0.36):
    # within a batch every smaller-id doc is a predecessor, dropped or not
    (13, "matches nothing else here at ALL yes indeed"),
    # batch 3
    (20, "an entirely different document about spark engines"),  # dup of 2
    (21, "completely novel text with its own unique shingles only"),
    # matches ONLY batch-1's dropped 3 (jac 0.5; vs survivor 1 it is
    # 0.36) -> SURVIVES: dropped docs are not in the index, so across
    # batches only survivors count. This is the case where survivor-
    # index semantics diverge from greedy-over-all-predecessors.
    (22, "fox jumps over the lazy cat today yes"),
]


def _reference_greedy(batches, threshold=0.5):
    """The semantics dedup_increment implements: within a batch, a doc
    is dropped iff it matches ANY smaller-id doc of the batch (dropped
    ones included) or any indexed survivor; across batches, only
    SURVIVORS are in the index — a doc whose only match was dropped
    earlier survives (near-dup is not transitive)."""
    def sh(t):
        w = t.split()
        return {" ".join(w[i : i + 2]) for i in range(len(w) - 1)}

    index: list[set] = []  # survivors' shingle sets only
    survivors = []
    for batch in batches:
        batch_sh = [(did, sh(txt)) for did, txt in sorted(batch)]
        accepted = []
        for i, (did, s) in enumerate(batch_sh):
            preds = index + [ps for _, ps in batch_sh[:i]]
            dup = any(
                len(s & ps) / len(s | ps) >= threshold for ps in preds if s or ps
            )
            if not dup:
                accepted.append(s)
                survivors.append(did)
        index.extend(accepted)
    return survivors


def test_incremental_matches_reference_and_appends(spark, tmp_path):
    idx = str(tmp_path / "sigindex")
    corpus = str(tmp_path / "corpus")
    # doc 99 has zero shingles: never banded, always survives
    batches = [DOCS[:3], DOCS[3:7] + [(99, "single")], DOCS[7:]]
    got = []
    for batch in batches:
        df = spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in batch], "doc_id long, text string"
        )
        # bands=32 (1 row/band) -> candidate iff ANY minhash collides:
        # miss probability for the fixture's threshold-boundary pairs
        # (jaccard 0.5) is 0.5^32, so LSH recall is effectively exact
        # and the reference comparison is deterministic
        out = inc.run_incremental_dedup(
            spark, df, idx, corpus, threshold=0.5, bands=32
        )
        got.extend(r["doc_id"] for r in out.collect())
    assert sorted(got) == sorted(_reference_greedy(batches))
    assert 99 in got
    # the corpus holds exactly the survivors
    stored = manifest.read_versioned(
        spark, corpus, schema="doc_id long, text string"
    ).collect()
    assert sorted(r["doc_id"] for r in stored) == sorted(got)
    # index = one signature row per SURVIVOR, grown by append segments
    rows = manifest.read_versioned(spark, idx, schema=inc.INDEX_SCHEMA).collect()
    assert sorted(r["id"] for r in rows) == sorted(got)
    m_segments = manifest._read_manifest(idx)["segments"]
    assert len(m_segments) == 3  # one appended segment per batch
    # compaction folds the log back to one segment, same content
    manifest.compact_versioned(spark, idx, num_files=1, schema=inc.INDEX_SCHEMA)
    assert len(manifest._read_manifest(idx)["segments"]) == 1
    rows2 = manifest.read_versioned(spark, idx, schema=inc.INDEX_SCHEMA).collect()
    assert sorted(r["id"] for r in rows2) == sorted(got)


def test_append_requires_absorbed_legacy(spark, tmp_path):
    import pytest

    t = str(tmp_path / "tbl")
    spark.createDataFrame([(1,)], "x long").write.parquet(t)
    df = spark.createDataFrame([(2,)], "x long")
    with pytest.raises(ValueError, match="legacy"):
        manifest.commit_append(df, t)
    manifest.commit_versioned(
        manifest.read_versioned(spark, t, "x long").unionByName(df), t
    )
    manifest.commit_append(spark.createDataFrame([(3,)], "x long"), t)
    got = sorted(r["x"] for r in manifest.read_versioned(spark, t).collect())
    assert got == [1, 2, 3]


def test_streaming_dedup_end_to_end(spark, tmp_path):
    idx = str(tmp_path / "sigindex")
    corpus = str(tmp_path / "corpus")
    drop = tmp_path / "drop"
    drop.mkdir()
    # three files -> micro-batches (order of batches may vary within a
    # single availableNow run; write sequentially to three dirs instead)
    spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in DOCS], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(drop / "all"))
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(drop / "all")
    )
    q = inc.run_streaming_dedup(
        spark,
        stream,
        idx,
        corpus,
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
        bands=32,
    )
    q.awaitTermination(120)
    got = sorted(
        r["doc_id"]
        for r in manifest.read_versioned(
            spark, corpus, schema="doc_id long, text string"
        ).collect()
    )
    assert got == sorted(_reference_greedy([DOCS]))


def test_txn_commit_is_epoch_idempotent(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df1 = spark.createDataFrame([(1,)], "x long")
    df2 = spark.createDataFrame([(2,)], "x long")
    v1 = manifest.commit_append(df1, t, txn=("app", 0))
    # replayed epoch: skipped entirely, version unchanged, no new rows
    v2 = manifest.commit_append(df2, t, txn=("app", 0))
    assert v2 == v1
    assert [r["x"] for r in manifest.read_versioned(spark, t).collect()] == [1]
    assert manifest.last_txn(t, "app") == 0
    # next epoch applies; an unrelated app_id is tracked independently
    manifest.commit_append(df2, t, txn=("app", 1))
    manifest.commit_append(df2, t, txn=("other", 0))
    got = sorted(r["x"] for r in manifest.read_versioned(spark, t).collect())
    assert got == [1, 2, 2]
    assert manifest.last_txn(t, "app") == 1
    assert manifest.last_txn(t, "missing") == -1


def test_replay_after_partial_commit_loses_nothing(spark, tmp_path):
    """The ADVICE crash window: index commit landed, corpus commit did
    not. The replayed epoch must reproduce the SAME survivor set (the
    equal-id self-match exclusion) and the corpus must receive it."""
    idx = str(tmp_path / "sigindex")
    corpus = str(tmp_path / "corpus")
    batch = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in DOCS[:3]], "doc_id long, text string"
    )

    def run_epoch(epoch_id, crash_before_corpus=False):
        index = manifest.read_versioned(spark, idx, schema=inc.INDEX_SCHEMA)
        survivors, new_rows = inc.dedup_increment(
            batch, index, "doc_id", "text", 0.5, bands=32
        )
        survivors = survivors.localCheckpoint()
        new_rows = new_rows.localCheckpoint()
        # simulate the OLD commit order crashing mid-way: index commit
        # lands, corpus commit never happens
        manifest.commit_append(new_rows, idx, txn=("dedup-index", epoch_id))
        if crash_before_corpus:
            return None
        manifest.commit_append(survivors, corpus, txn=("dedup-corpus", epoch_id))
        return survivors

    run_epoch(0, crash_before_corpus=True)  # crash: index has batch sigs
    run_epoch(0)  # replay of the same epoch
    expected = sorted(_reference_greedy([DOCS[:3]]))
    got = sorted(
        r["doc_id"]
        for r in manifest.read_versioned(
            spark, corpus, schema="doc_id long, text string"
        ).collect()
    )
    assert got == expected  # no documents lost to the crash window
    # index commit of the replay was skipped via txn -> one segment,
    # no duplicate signature rows
    assert len(manifest._read_manifest(idx)["segments"]) == 1
    rows = manifest.read_versioned(spark, idx, schema=inc.INDEX_SCHEMA).collect()
    assert sorted(r["id"] for r in rows) == expected


def test_incremental_step_commits_index_rows_without_reprobing(
    spark, tmp_path, monkeypatch
):
    """The index rows the per-batch step commits must come from the
    materialized survivors and the batch's signatures. A plan that
    still holds the LSH band join and the index scans re-runs the whole
    probe and verification for the index commit."""
    idx = str(tmp_path / "sigindex")
    corpus = str(tmp_path / "corpus")

    def mk(rows):
        return spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in rows], "doc_id long, text string"
        )

    inc.run_incremental_dedup(spark, mk(DOCS[:3]), idx, corpus, bands=32)
    plans = {}
    commit_append = manifest.commit_append

    def commit(df, path, *args, **kwargs):
        plans[path] = df._jdf.queryExecution().executedPlan().toString()
        return commit_append(df, path, *args, **kwargs)

    monkeypatch.setattr(manifest, "commit_append", commit)
    # second batch: probes a non-empty index
    inc.run_incremental_dedup(spark, mk(DOCS[3:7]), idx, corpus, bands=32)
    plan = plans[idx]
    assert plan.count("FileScan") == 0, plan  # no index scan
    assert "band" not in plan, plan  # no LSH band join


def test_cli_dedup_rerun_after_crash_does_not_double_append(
    spark, tmp_path, monkeypatch
):
    """The CLI's documented crash recovery is 're-run the command'; the
    txn protocol must make the corpus append idempotent — without it a
    re-run after a crash between the corpus and index commits appends
    the same survivors twice."""
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in DOCS[:3]], "doc_id long, text string"
    )
    commit_append = manifest.commit_append
    crash_before_index = False

    class Crash(Exception):
        pass

    def commit(df, path, *args, **kwargs):
        if path == index and crash_before_index:
            raise Crash()  # killed after the corpus commit
        return commit_append(df, path, *args, **kwargs)

    monkeypatch.setattr(manifest, "commit_append", commit)

    def run_batch(batch: DataFrame, commit_index: bool) -> None:
        nonlocal crash_before_index
        crash_before_index = not commit_index
        txn = inc.batch_txn(batch, "doc_id", "text")  # the CLI's derivation
        try:
            inc.run_incremental_dedup(
                spark, batch, index, corpus, corpus_txn=txn, index_txn=txn
            )
        except Crash:
            pass

    run_batch(docs, commit_index=False)  # crash between the two commits
    n_after_crash = manifest.read_versioned(spark, corpus).count()
    run_batch(docs, commit_index=True)   # the documented recovery: re-run
    assert manifest.read_versioned(spark, corpus).count() == n_after_crash
    assert manifest.read_versioned(spark, index).count() > 0
    n_index = manifest.read_versioned(spark, index).count()

    # re-run of the SAME batch after FULL success: with the old
    # index-version epoch this re-appended (the version had advanced);
    # the content-addressed txn must no-op both commits
    run_batch(docs, commit_index=True)
    assert manifest.read_versioned(spark, corpus).count() == n_after_crash
    assert manifest.read_versioned(spark, index).count() == n_index

    # a genuinely different batch still applies (fresh content → fresh
    # txn app-id), including a changed text under a reused id
    docs2 = spark.createDataFrame(
        [Row(doc_id=100, text="an entirely new never seen document xyzzy")],
        "doc_id long, text string",
    )
    run_batch(docs2, commit_index=True)
    assert manifest.read_versioned(spark, corpus).count() == n_after_crash + 1
    assert (
        inc.batch_txn(docs, "doc_id", "text")
        != inc.batch_txn(docs2, "doc_id", "text")
    )


def test_batch_txn_null_text_distinct_from_empty_and_id_only(spark):
    """concat_ws silently drops NULLs, so without an explicit null-flag
    lane a (id, NULL) row fingerprints like the bare id string — and a
    colliding fingerprint silently no-ops a whole batch. NULL, empty,
    and absent-text batches must all produce distinct txn ids."""
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    t_null = inc.batch_txn(mk([(1, None)]), "doc_id", "text")
    t_empty = inc.batch_txn(mk([(1, "")]), "doc_id", "text")
    t_text = inc.batch_txn(mk([(1, "x")]), "doc_id", "text")
    assert len({t_null[0], t_empty[0], t_text[0]}) == 3


def test_batch_txn_order_invariant_but_multiset_sensitive(spark):
    """The fingerprint must ignore row ORDER (Spark partial-agg order is
    nondeterministic) while the two-lane combiner (Σh, Σh²) separates
    multisets that a single additive lane could conflate."""
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    a = [(1, "alpha"), (2, "beta"), (3, "gamma")]
    assert (
        inc.batch_txn(mk(a), "doc_id", "text")
        == inc.batch_txn(mk(list(reversed(a))), "doc_id", "text")
    )
    # duplicated row vs distinct rows with the same count
    t_dup = inc.batch_txn(mk([(1, "alpha"), (1, "alpha")]), "doc_id", "text")
    t_two = inc.batch_txn(mk([(1, "alpha"), (2, "beta")]), "doc_id", "text")
    assert t_dup[0] != t_two[0]
    # the second-moment lane is present and independent: id carries
    # both 15-hex-digit lanes plus the 8-hex params lane
    assert len(t_dup[0]) == len("cli-dedup:") + 30 + 9


def test_batch_txn_params_change_txn_identity(spark):
    """The SAME batch re-run with a corrected threshold computes
    different survivors — it must map to a FRESH txn, or the corrected
    run's commits silently no-op against the prior txn record."""
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    docs = mk([(1, "alpha"), (2, "beta")])
    t07 = inc.batch_txn(docs, "doc_id", "text", params=(0.7,))
    t09 = inc.batch_txn(docs, "doc_id", "text", params=(0.9,))
    assert t07[0] != t09[0]
    # and identical params stay idempotent
    assert t07 == inc.batch_txn(docs, "doc_id", "text", params=(0.7,))


# ---------------- incremental exact-substring dedup (window index)

def test_substring_increment_matches_from_scratch(spark):
    """Batch-vs-index spans must equal the from-scratch
    duplicated_spans over corpus ∪ batch, restricted to batch ids."""
    from asset_prices_parquet_saver_spark.operators import dedup

    tbl = "winidx_test_equiv"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    corpus = spark.createDataFrame(
        [
            Row(doc_id=0, text="a b c d e f g corpus tail"),
            Row(doc_id=1, text="u v w x y z only here"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            Row(doc_id=10, text="pre1 a b c d e f g post1"),   # dup vs corpus
            Row(doc_id=11, text="m n o p q r shared run one"), # dup vs 12
            Row(doc_id=12, text="m n o p q r shared run two"),
            Row(doc_id=13, text="completely fresh words only here no"),
        ],
        "doc_id long, text string",
    )
    try:
        # seed the index with the corpus windows
        inc.substring_increment_bucketed(
            spark, corpus, tbl, k=5, num_buckets=4
        )
        got = {
            (r.id, r.span_start, r.span_end, r.span_tokens)
            for r in inc.substring_increment_bucketed(
                spark, batch, tbl, k=5, num_buckets=4
            ).collect()
        }
        ref = {
            (r.id, r.span_start, r.span_end, r.span_tokens)
            for r in dedup.duplicated_spans(
                corpus.unionByName(batch), "doc_id", "text", k=5
            ).collect()
            if r.id >= 10
        }
        assert got == ref and got  # non-trivial and identical
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_substring_increment_replay_is_idempotent_on_results(spark):
    """Re-running the SAME batch after its append must return the same
    spans (its own indexed windows are excluded by the equal-id rule),
    not mark the whole batch duplicated."""
    tbl = "winidx_test_replay"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    batch = spark.createDataFrame(
        [
            Row(doc_id=1, text="m n o p q r shared run one"),
            Row(doc_id=2, text="m n o p q r shared run two"),
            Row(doc_id=3, text="totally unrelated text goes right here"),
        ],
        "doc_id long, text string",
    )
    try:
        first = {
            (r.id, r.span_start, r.span_end)
            for r in inc.substring_increment_bucketed(
                spark, batch, tbl, k=5, num_buckets=4
            ).collect()
        }
        replay = {
            (r.id, r.span_start, r.span_end)
            for r in inc.substring_increment_bucketed(
                spark, batch, tbl, k=5, num_buckets=4
            ).collect()
        }
        assert replay == first
        assert {i for i, *_ in first} == {1, 2}  # doc 3 never flagged
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_substring_increment_probe_shuffles_only_the_batch(spark):
    """The probe's index side must be the in-place bucketed scan: one
    exchange total (the batch's), `Bucketed: true` on the index."""
    from pyspark.sql import functions as F

    from asset_prices_parquet_saver_spark.operators.dedup import window_rows

    tbl = "winidx_test_plan"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    batch = spark.createDataFrame(
        [Row(doc_id=1, text="a b c d e f g h i j")],
        "doc_id long, text string",
    )
    try:
        inc.substring_increment_bucketed(spark, batch, tbl, k=5, num_buckets=4)
        wins = window_rows(batch, "doc_id", "text", 5).localCheckpoint()
        probe = (
            wins.alias("a")
            .hint("shuffle_hash")
            .join(
                spark.table(tbl).alias("b"),
                (F.col("a.h") == F.col("b.h"))
                & (F.col("a.id") != F.col("b.id")),
            )
        )
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in plan
        assert plan.count("Exchange") == 1
        assert "Bucketed: true" in plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_compact_window_index_folds_files(spark):
    tbl = "winidx_test_compact"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}_compacting")
    try:
        for i in range(3):  # three appends -> three file generations
            batch = spark.createDataFrame(
                [Row(doc_id=10 * i + j, text=f"w{i} x{j} common run of words {j}")
                 for j in range(2)],
                "doc_id long, text string",
            )
            inc.substring_increment_bucketed(spark, batch, tbl, k=5, num_buckets=4)
        rows_before = sorted(
            (r["h"], r["id"]) for r in spark.table(tbl).collect()
        )
        before, after = inc.compact_window_index(spark, tbl, num_buckets=4)
        assert after < before
        assert after <= 4  # at most one file per non-empty bucket
        assert sorted(
            (r["h"], r["id"]) for r in spark.table(tbl).collect()
        ) == rows_before
        # probes keep working against the compacted index
        probe = spark.createDataFrame(
            [Row(doc_id=99, text="w0 x0 common run of words 0")],
            "doc_id long, text string",
        )
        spans = inc.substring_increment_bucketed(
            spark, probe, tbl, k=5, num_buckets=4
        )
        assert spans.count() == 1  # verbatim dup of indexed doc 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}_compacting")


def test_window_index_crash_window_recovery(spark):
    """A compaction that dies between DROP TABLE and RENAME leaves the
    only copy of the index in the _compacting staging table. Both
    ensure_window_index and a rerun of compact_window_index must rename
    it back into place — recreating an empty index there would silently
    forget every indexed window."""
    tbl = "winidx_test_crash"
    staging = f"{tbl}_compacting"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(f"DROP TABLE IF EXISTS {staging}")
    try:
        df = spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in DOCS[:3]],
            "doc_id long, text string",
        )
        inc.substring_increment_bucketed(spark, df, tbl, k=5, num_buckets=4)
        rows = sorted((r["h"], r["id"]) for r in spark.table(tbl).collect())
        assert rows
        # simulate the crash window: staging holds the copy, main is gone
        spark.sql(f"ALTER TABLE {tbl} RENAME TO {staging}")
        inc.ensure_window_index(spark, tbl, num_buckets=4)
        got = sorted((r["h"], r["id"]) for r in spark.table(tbl).collect())
        assert got == rows  # history intact, NOT an empty re-create
        assert not spark.catalog.tableExists(staging)
        # same recovery inside a rerun of the compactor itself
        spark.sql(f"ALTER TABLE {tbl} RENAME TO {staging}")
        inc.compact_window_index(spark, tbl, num_buckets=4)
        got2 = sorted((r["h"], r["id"]) for r in spark.table(tbl).collect())
        assert got2 == rows
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {staging}")


def test_compact_window_index_detects_concurrent_append(spark):
    """An index append landing during the compaction rewrite was
    historically dropped by the DROP+RENAME swap (lost update). The
    pre-publish drift check must abort with CommitConflict, keep the
    appended batch, and let a retry fold the merged state."""
    import pytest

    from asset_prices_parquet_saver_spark.sources.manifest import CommitConflict

    tbl = "winidx_test_cas"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}_compacting")
    try:
        for batch in (DOCS[:3], DOCS[3:7]):
            df = spark.createDataFrame(
                [Row(doc_id=i, text=t) for i, t in batch],
                "doc_id long, text string",
            )
            inc.substring_increment_bucketed(spark, df, tbl, k=5, num_buckets=4)

        def concurrent_append():
            late = spark.createDataFrame(
                [Row(doc_id=777, text="a wholly novel concurrent document arrives")],
                "doc_id long, text string",
            )
            inc.substring_increment_bucketed(spark, late, tbl, k=5, num_buckets=4)

        inc._test_pre_publish_hook = concurrent_append
        try:
            with pytest.raises(CommitConflict):
                inc.compact_window_index(spark, tbl, num_buckets=4)
        finally:
            inc._test_pre_publish_hook = None

        ids = {r["id"] for r in spark.table(tbl).select("id").distinct().collect()}
        assert 777 in ids  # the concurrent append survived
        assert not spark.catalog.tableExists(f"{tbl}_compacting")

        rows_before = sorted((r["h"], r["id"]) for r in spark.table(tbl).collect())
        before, after = inc.compact_window_index(spark, tbl, num_buckets=4)
        assert before > after
        rows_after = sorted((r["h"], r["id"]) for r in spark.table(tbl).collect())
        assert rows_after == rows_before
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}_compacting")


def test_streaming_substring_scrub_end_to_end(spark, tmp_path):
    tbl = "winidx_test_stream"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    corpus = str(tmp_path / "scrubbed")
    drop = tmp_path / "drop"
    drop.mkdir()
    docs = [
        (0, "a b c d e f g tail1 tail2"),
        (1, "pre1 pre2 a b c d e f g"),   # shares the 7-token run with 0
        (2, "q r s t u v w x y z"),       # clean
    ]
    spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in docs], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(drop / "all"))
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(drop / "all")
    )
    try:
        q = inc.run_streaming_substring_scrub(
            spark,
            stream,
            tbl,
            corpus,
            k=5,
            num_buckets=4,
            checkpoint_dir=str(tmp_path / "ckpt"),
            available_now=True,
        )
        q.awaitTermination(120)
        got = {
            r["doc_id"]: r["text"]
            for r in manifest.read_versioned(
                spark, corpus, schema="doc_id long, text string"
            ).collect()
        }
        # every document kept; only the verbatim run excised
        assert got == {
            0: "tail1 tail2",
            1: "pre1 pre2",
            2: "q r s t u v w x y z",
        }
        # index invariant: the window index holds exactly the STORED
        # (scrubbed) corpus's windows, so a from-scratch run over the
        # saved corpus reproduces the streaming decisions
        from asset_prices_parquet_saver_spark.operators.dedup import (
            window_rows,
        )

        stored = manifest.read_versioned(
            spark, corpus, schema="doc_id long, text string"
        )
        expect = {
            (r["h"], r["id"])
            for r in window_rows(stored, "doc_id", "text", 5).collect()
        }
        indexed = {
            (r["h"], r["id"]) for r in spark.table(tbl).collect()
        }
        assert indexed == expect
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_streaming_substring_scrub_across_batches(spark, tmp_path):
    """Cross-batch scrubbing: a run indexed by batch 1 must be excised
    from batch 2 — pins the parent-session refreshTable after the
    clone-session index append (without it the parent's cached empty
    listing makes every later batch probe see an empty index)."""
    tbl = "winidx_test_stream2"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    corpus = str(tmp_path / "scrubbed2")
    drop = tmp_path / "drop2"
    drop.mkdir()
    spark.createDataFrame(
        [Row(doc_id=0, text="a b c d e f g tail1 tail2")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(drop / "b1"))
    spark.createDataFrame(
        [Row(doc_id=1, text="pre1 pre2 a b c d e f g")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(drop / "b2"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop / "*"))
    )
    try:
        q = inc.run_streaming_substring_scrub(
            spark,
            stream,
            tbl,
            corpus,
            k=5,
            num_buckets=4,
            checkpoint_dir=str(tmp_path / "ckpt2"),
            available_now=True,
        )
        q.awaitTermination(120)
        got = {
            r["doc_id"]: r["text"]
            for r in manifest.read_versioned(
                spark, corpus, schema="doc_id long, text string"
            ).collect()
        }
        # doc 0 arrived first (b1 sorts before b2) and survives whole;
        # doc 1's copy of the run must be excised against the index
        assert got == {0: "a b c d e f g tail1 tail2", 1: "pre1 pre2"}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
