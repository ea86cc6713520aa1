"""Incremental fuzzy dedup against a manifest-committed signature
index: batch-over-batch behavior must equal the match-any-predecessor
reference, and the index must grow by append-log commits."""

import os

import pytest
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

def _windows(spark, path):
    return manifest.read_versioned(spark, path, schema=inc.WINDOW_INDEX_SCHEMA)


def _exchanges_over(plan: str, marker: str) -> list[str]:
    """Exchange nodes on the path from the first plan line containing
    ``marker`` up to the root of a ``executedPlan().toString()`` tree."""
    lines = plan.splitlines()
    at = next(i for i, line in enumerate(lines) if marker in line)

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    d, out = depth(lines[at]), []
    for line in reversed(lines[:at]):
        if depth(line) < d:
            d = depth(line)
            if "Exchange" in line:
                out.append(line.strip())
    return out


def _replay_last_epoch(ckpt: str) -> None:
    """Forget the last epoch's commit-log entry: the state a query
    killed after its sink ran but before Spark logged the epoch done.
    The restarted query re-runs that epoch with the same id and rows."""
    commits = os.path.join(ckpt, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))


def test_substring_increment_matches_from_scratch(spark, tmp_path):
    """Batch-vs-index spans must equal the from-scratch
    duplicated_spans over corpus ∪ batch, restricted to batch ids."""
    from asset_prices_parquet_saver_spark.operators import dedup

    tbl = str(tmp_path / "winidx")
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
    # seed the index with the corpus windows
    inc.substring_increment(spark, corpus, tbl, k=5)
    got = {
        (r.id, r.span_start, r.span_end, r.span_tokens)
        for r in inc.substring_increment(spark, batch, tbl, k=5).collect()
    }
    ref = {
        (r.id, r.span_start, r.span_end, r.span_tokens)
        for r in dedup.duplicated_spans(
            corpus.unionByName(batch), "doc_id", "text", k=5
        ).collect()
        if r.id >= 10
    }
    assert got == ref and got  # non-trivial and identical


def test_substring_increment_replay_is_idempotent_on_results(spark, tmp_path):
    """Re-running the SAME batch after its append must return the same
    spans (its own indexed windows are excluded by the equal-id rule),
    not mark the whole batch duplicated."""
    tbl = str(tmp_path / "winidx")
    batch = spark.createDataFrame(
        [
            Row(doc_id=1, text="m n o p q r shared run one"),
            Row(doc_id=2, text="m n o p q r shared run two"),
            Row(doc_id=3, text="totally unrelated text goes right here"),
        ],
        "doc_id long, text string",
    )
    first = {
        (r.id, r.span_start, r.span_end)
        for r in inc.substring_increment(spark, batch, tbl, k=5).collect()
    }
    replay = {
        (r.id, r.span_start, r.span_end)
        for r in inc.substring_increment(spark, batch, tbl, k=5).collect()
    }
    assert replay == first
    assert {i for i, *_ in first} == {1, 2}  # doc 3 never flagged


def test_substring_increment_probe_shuffles_only_the_batch(spark, tmp_path):
    """With the index larger than the batch, the probe broadcasts the
    checkpointed batch and streams the index scan: no Exchange of any
    kind sits over the index FileScan. The batch is read from parquet,
    as a file-stream micro-batch is, so the planner knows its size (a
    frame built from Python rows reports an unknown size)."""
    from asset_prices_parquet_saver_spark.operators.dedup import window_rows

    tbl = str(tmp_path / "winidx")
    corpus = spark.createDataFrame(
        [
            Row(doc_id=i, text=" ".join(f"w{i}_{j}" for j in range(40)))
            for i in range(50)
        ],
        "doc_id long, text string",
    )
    inc.substring_increment(spark, corpus, tbl, k=5)
    spark.createDataFrame(
        [Row(doc_id=100, text="a b c d e f g h i j")],
        "doc_id long, text string",
    ).write.parquet(str(tmp_path / "batch"))
    batch = spark.read.parquet(str(tmp_path / "batch"))
    wins = window_rows(batch, "doc_id", "text", 5).localCheckpoint()
    probe = inc._window_hits(wins, _windows(spark, tbl))
    probe.collect()
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "BuildLeft" in plan
    assert _exchanges_over(plan, "FileScan parquet") == []


def test_compact_window_index_folds_files(spark, tmp_path):
    """manifest.compact_versioned folds the window index's append
    segments into one and leaves its rows and probe results as they
    were."""
    tbl = str(tmp_path / "winidx")
    for i in range(3):  # three appends -> three segments
        batch = spark.createDataFrame(
            [Row(doc_id=10 * i + j, text=f"w{i} x{j} common run of words {j}")
             for j in range(2)],
            "doc_id long, text string",
        )
        inc.substring_increment(spark, batch, tbl, k=5)
    probe = spark.createDataFrame(
        [
            Row(doc_id=99, text="w0 x0 common run of words 0"),
            Row(doc_id=98, text="prefix w2 x1 common run of words 1 tail"),
            Row(doc_id=97, text="nothing here matches any indexed window"),
        ],
        "doc_id long, text string",
    )

    def spans():
        return sorted(
            tuple(r)
            for r in inc.substring_increment(
                spark, probe, tbl, k=5, append_windows=False
            ).collect()
        )

    rows_before = sorted(tuple(r) for r in _windows(spark, tbl).collect())
    spans_before = spans()
    assert manifest.segment_count(tbl) == 3
    manifest.compact_versioned(spark, tbl, schema=inc.WINDOW_INDEX_SCHEMA)
    assert manifest.segment_count(tbl) == 1
    assert sorted(tuple(r) for r in _windows(spark, tbl).collect()) == rows_before
    assert spans() == spans_before
    assert {r[0] for r in spans_before} == {98, 99}  # non-trivial probe


def test_compact_window_index_detects_concurrent_append(spark, tmp_path, monkeypatch):
    """An index append landing between compaction's read and its
    publish must not be folded away: compact_versioned is pinned to the
    version it read, so it raises CommitConflict, the append survives,
    and a retry folds the merged state."""
    from asset_prices_parquet_saver_spark.sources.manifest import CommitConflict

    tbl = str(tmp_path / "winidx")
    for batch in (DOCS[:3], DOCS[3:7]):
        df = spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in batch],
            "doc_id long, text string",
        )
        inc.substring_increment(spark, df, tbl, k=5)

    publish = manifest.commit_versioned

    def concurrent_append_then_publish(*args, **kwargs):
        late = spark.createDataFrame(
            [Row(doc_id=777, text="a wholly novel concurrent document arrives")],
            "doc_id long, text string",
        )
        inc.substring_increment(spark, late, tbl, k=5)
        return publish(*args, **kwargs)

    monkeypatch.setattr(manifest, "commit_versioned", concurrent_append_then_publish)
    with pytest.raises(CommitConflict):
        manifest.compact_versioned(spark, tbl, schema=inc.WINDOW_INDEX_SCHEMA)
    monkeypatch.setattr(manifest, "commit_versioned", publish)

    assert manifest.segment_count(tbl) == 3
    rows_before = sorted(tuple(r) for r in _windows(spark, tbl).collect())
    assert 777 in {r[1] for r in rows_before}  # the concurrent append survived
    manifest.compact_versioned(spark, tbl, schema=inc.WINDOW_INDEX_SCHEMA)
    assert manifest.segment_count(tbl) == 1
    assert sorted(tuple(r) for r in _windows(spark, tbl).collect()) == rows_before


def test_window_index_survives_orphaned_segment(spark, tmp_path):
    """A writer killed mid-append leaves a segment directory that no
    manifest names. Probes must not read it, and the next append must
    number past it and garbage-collect it."""
    tbl = str(tmp_path / "winidx")

    def plant(seg: str) -> str:
        d = os.path.join(tbl, seg)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-orphan.parquet"), "wb") as fh:
            fh.write(b"junk")  # a torn file: reading it would fail
        return d

    first = plant("v00000001")  # killed before the first publish
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in DOCS[:3]], "doc_id long, text string"
    )
    inc.substring_increment(spark, df, tbl, k=5)  # reads no junk
    assert manifest.current_version(tbl) == 2
    assert not os.path.exists(first)
    rows = sorted(tuple(r) for r in _windows(spark, tbl).collect())
    assert rows

    later = plant("v00000003")  # killed after a good commit
    probe = spark.createDataFrame(
        [Row(doc_id=50, text=DOCS[0][1])], "doc_id long, text string"
    )
    assert inc.substring_increment(spark, probe, tbl, k=5).count() == 1
    assert manifest.current_version(tbl) == 4
    assert not os.path.exists(later)
    got = sorted(tuple(r) for r in _windows(spark, tbl).collect())
    assert set(rows) < set(got)


def test_streaming_substring_scrub_end_to_end(spark, tmp_path):
    tbl = str(tmp_path / "winidx")
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
    q = inc.run_streaming_substring_scrub(
        spark,
        stream,
        tbl,
        corpus,
        k=5,
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
    from asset_prices_parquet_saver_spark.operators.dedup import window_rows

    stored = manifest.read_versioned(
        spark, corpus, schema="doc_id long, text string"
    )
    expect = {
        (r["h"], r["id"])
        for r in window_rows(stored, "doc_id", "text", 5).collect()
    }
    indexed = {(r["h"], r["id"]) for r in _windows(spark, tbl).collect()}
    assert indexed == expect


def _two_batch_scrub_stream(spark, drop):
    drop.mkdir()
    spark.createDataFrame(
        [Row(doc_id=0, text="a b c d e f g tail1 tail2")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(drop / "b1"))
    spark.createDataFrame(
        [Row(doc_id=1, text="pre1 pre2 a b c d e f g")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(drop / "b2"))
    return (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop / "*"))
    )


def test_streaming_substring_scrub_across_batches(spark, tmp_path):
    """Cross-batch scrubbing: a run indexed by batch 1 must be excised
    from batch 2 — each micro-batch's probe reads the index as the
    previous epoch committed it."""
    tbl = str(tmp_path / "winidx")
    corpus = str(tmp_path / "scrubbed2")
    stream = _two_batch_scrub_stream(spark, tmp_path / "drop2")
    q = inc.run_streaming_substring_scrub(
        spark,
        stream,
        tbl,
        corpus,
        k=5,
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


def test_streaming_substring_scrub_epoch_replay_appends_nothing(spark, tmp_path):
    """A query restarted after its last epoch's sink ran, but before
    Spark logged the epoch done, re-runs that epoch: both commits are
    skipped by their txn records, so the window index and the corpus
    keep their segments and rows."""
    tbl = str(tmp_path / "winidx")
    corpus = str(tmp_path / "scrubbed")
    ckpt = str(tmp_path / "ckpt")
    stream = _two_batch_scrub_stream(spark, tmp_path / "drop")

    def run():
        q = inc.run_streaming_substring_scrub(
            spark, stream, tbl, corpus, k=5, checkpoint_dir=ckpt,
            available_now=True,
        )
        q.awaitTermination(120)
        return [(p["batchId"], p["numInputRows"]) for p in q.recentProgress]

    def state():
        return (
            manifest.segment_count(tbl),
            sorted(tuple(r) for r in _windows(spark, tbl).collect()),
            manifest.segment_count(corpus),
            sorted(
                tuple(r)
                for r in manifest.read_versioned(
                    spark, corpus, schema="doc_id long, text string"
                ).collect()
            ),
        )

    run()
    before = state()
    assert before[0] == 2 and before[2] == 2  # one segment per epoch
    _replay_last_epoch(ckpt)
    assert any(b == 1 and n > 0 for b, n in run())  # epoch 1 ran again
    assert state() == before


@pytest.mark.parametrize(
    "wrapper", [inc.run_streaming_dedup, inc.run_streaming_substring_scrub]
)
def test_streaming_wrappers_require_checkpoint(wrapper, tmp_path):
    """Without a checkpoint a restarted query would reuse epoch ids
    whose txn records already exist and skip its commits; refuse it."""
    with pytest.raises(ValueError, match="checkpoint_dir"):
        wrapper(None, None, str(tmp_path / "idx"), str(tmp_path / "corpus"))
