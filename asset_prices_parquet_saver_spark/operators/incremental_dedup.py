"""Incremental fuzzy dedup against a persistent signature index.

Production corpus dedup is incremental: each crawl/ingest batch must be
deduplicated against everything already accepted, without re-touching
the historical corpus. The state is a **signature index** — one row per
accepted document holding its hashed shingle set and MinHash signature
— persisted as a manifest-committed table (sources/manifest.py), so
the accept-and-append step is an atomic snapshot commit.

Per batch (one pass, fully parallel):

1. signatures for the new docs (same kernels as ``minhash_dedup``);
2. LSH band join of the new side against (index ∪ new) — the index
   side streams through the join keyed on (band, bucket); the new side
   is a batch, which AQE broadcasts when it fits;
3. exact-Jaccard verification on candidates only;
4. a new doc is DROPPED iff it matches any indexed doc or any
   smaller-id doc of the same batch ("match-any-predecessor" — the
   standard parallel relaxation of sequential greedy dedup; unlike
   sequential greedy it may drop a doc whose matched predecessor was
   itself dropped, which is the accepted trade for a one-pass parallel
   rule and usually the better dedup anyway);
5. the survivors are materialized once; they go to the corpus and
   their signature rows to the index (:func:`run_incremental_dedup`,
   the one per-batch step of the CLI ``dedup`` command and of every
   :func:`run_streaming_dedup` micro-batch).

This is the only near-dup index layout. A metastore-bucketed band
index (the probe reads index buckets in place) and a manifest band
index (pbucket-clustered segments) were measured against it and
deleted. On 4 cores, 6 batches of 4000 documents (20% edited
near-duplicates) into an index growing to about 20k documents, all
three layouts kept the same survivors; with the index rows derived
from the materialized survivors (one probe per batch) this layout was
as fast as either band layout or faster. Indexes larger than about 20k
documents were not measured: if a workload at that scale appears,
measure it before bringing back a banded layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from asset_prices_parquet_saver_spark.operators.dedup import (
    _portable_signature_arrays,
    _signatures_from_arrays,
    _verified_jaccard,
    banded_keys,
    shingle_arrays_unordered,
)
from asset_prices_parquet_saver_spark.functions.portable_hash import md5_int60
from asset_prices_parquet_saver_spark.sources import manifest
from asset_prices_parquet_saver_spark.sources.warehouse import (
    ensure_bucketed_table,
    heal_table_location,
)

#: fault-injection seam (tests only): runs between the staging rewrite
#: and the pre-publish drift check of :func:`compact_window_index`,
#: i.e. inside the window where a concurrent append would historically
#: have been lost.
_test_pre_publish_hook = None

#: signature-index schema (see minhash_dedup's arrs frame)
INDEX_SCHEMA = "id long, arr array<long>, n_sh int, sig array<long>"


def _lock_path(spark: SparkSession, table: str, kind: str) -> str:
    """Advisory-lock file for a catalog table, placed in the WAREHOUSE
    ROOT (not the table directory): the table dir is deleted by the
    compactor's DROP and moved by its RENAME, either of which would
    destroy a held lock file mid-swap."""
    import os

    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    wh = wh[len("file:"):] if wh.startswith("file:") else wh
    os.makedirs(wh, exist_ok=True)
    return os.path.join(wh, f"{table.replace('.', '__')}.{kind}.lock")


def _table_lock(spark: SparkSession, table: str):
    """One advisory lock per bucketed index table, shared by appenders
    (:func:`_append_windows`, ``urls.append_url_index``) and the
    compactor (:func:`compact_window_index`): with both sides holding
    it, no append can land inside the compactor's rewrite→verify→swap
    window, closing the check-then-act race on a local filesystem. (On
    an object-store catalog the answer is an Iceberg/Delta snapshot
    commit instead.) The lock file keeps its ``band_index`` name, so
    writers of earlier builds still exclude the same file."""
    return manifest.path_lock(_lock_path(spark, table, "band_index"))


def signature_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    num_hashes: int = 32,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, arr, n_sh, sig) for a document frame — the index row shape."""
    if hash_family == "md5":
        return _portable_signature_arrays(df, id_col, text_col, n, num_hashes).select(
            "id", "arr", "n_sh", "sig"
        )
    return _signatures_from_arrays(
        shingle_arrays_unordered(df, id_col, text_col, n), num_hashes
    ).select("id", "arr", "n_sh", "sig")


def dedup_increment(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
    hash_family: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """One incremental step. Returns ``(survivors, new_index_rows)``:
    the accepted subset of ``new_docs`` (original columns) and their
    signature rows to append to the index. The caller owns persistence
    (see :func:`run_incremental_dedup`).

    The survivors come back checkpointed, and the index rows join that
    checkpoint with the batch's checkpointed signatures, so writing or
    reading either output never re-runs the LSH probe, the verification
    or the index scan."""
    if bands > num_hashes or num_hashes % bands != 0:
        # bands > num_hashes makes rows_per_band 0: every doc would
        # share every band bucket and candidate generation degenerates
        # to the full O(n^2) cross product — silently. A non-divisor
        # silently drops the trailing num_hashes % bands signature
        # entries from banding. Both are configuration errors.
        raise ValueError(
            f"dedup_increment: bands={bands} must divide num_hashes="
            f"{num_hashes} (rows_per_band = num_hashes // bands >= 1)"
        )
    rows_per_band = num_hashes // bands
    new_sig = signature_frame(
        new_docs, id_col, text_col, n, num_hashes, hash_family
    ).localCheckpoint()  # shared by banding + verification + append
    # zero-shingle docs never match anything (0/0 Jaccard is NULL) but
    # share one degenerate all-NULL signature — banding them creates
    # O(k²) candidate pairs of pure wasted verification work. They
    # survive via the anti-join without ever being banded.
    nb = banded_keys(
        new_sig.filter(F.col("n_sh") > 0).select("id", "sig"), bands, rows_per_band
    )
    ib = banded_keys(
        index.filter(F.col("n_sh") > 0).select("id", "sig"), bands, rows_per_band
    )
    # candidates: new × index (any collision) ∪ new × smaller-id new.
    # id_new != id_prev: ids are unique keys, so an equal-id collision
    # is the SAME document already indexed (a replayed batch after a
    # crash between the corpus and index commits) — excluding it makes
    # replay reproduce the original survivor set instead of dropping
    # every doc against its own index row.
    cand_old = (
        nb.alias("a")
        .join(ib.alias("b"), ["band", "bucket"])
        .filter(F.col("a.id") != F.col("b.id"))
        .select(F.col("a.id").alias("id_new"), F.col("b.id").alias("id_prev"))
    )
    cand_new = (
        nb.alias("a")
        .join(nb.alias("b"), ["band", "bucket"])
        .filter(F.col("b.id") < F.col("a.id"))
        .select(F.col("a.id").alias("id_new"), F.col("b.id").alias("id_prev"))
    )
    cand = cand_old.unionByName(cand_new).distinct()
    # verification needs both sides' shingle arrays
    arrs = new_sig.select("id", "arr", "n_sh").unionByName(
        index.select("id", "arr", "n_sh")
    )
    pairs = _verified_jaccard(
        cand.select(
            F.col("id_new").alias("id_a"), F.col("id_prev").alias("id_b")
        ),
        arrs,
        threshold,
    )
    losers = pairs.select(F.col("id_a").alias(id_col)).distinct()
    # materialize ONCE: the corpus commit, the index rows and the
    # caller's reads all start from this checkpoint, so the probe runs
    # once per batch. Index rows derived from the lazy survivors plan
    # would re-run the band joins, the verification and the index
    # scans for the index commit.
    survivors = new_docs.join(losers, id_col, "left_anti").localCheckpoint()
    new_rows = new_sig.join(
        survivors.select(F.col(id_col).alias("id")), "id", "left_semi"
    )
    return survivors, new_rows


def batch_txn(
    docs: DataFrame, id_col: str, text_col: str, params: tuple = ()
) -> tuple[str, int]:
    """Content-addressed txn identity for one dedup batch.

    ``params`` folds the RUN CONFIGURATION into the identity (the CLI
    passes the dedup threshold): the same input batch re-run with a
    corrected threshold computes DIFFERENT survivors, so it must map
    to a fresh txn — keying on content alone would silently no-op the
    corrected run and discard its results.

    The CLI's crash recovery is "re-run the command". A monotone epoch
    (index version + 1) makes the crash-window replay idempotent, but a
    re-run of the SAME batch after a fully successful run picks a NEW
    epoch (the index advanced) and re-appends the survivors. Keying the
    txn by the batch's *content* instead closes that gap: the app-id is
    a 60-bit order-independent fingerprint of the (id, text) rows — sum
    of the portable md5-60 per-row hashes plus the row count, mod 2^60
    — so an identical batch always maps to the same txn record and both
    commits no-op, while any differing batch gets a fresh app-id.

    Collision hardening: the per-row hash makes NULL text EXPLICIT
    (coalesce to "" plus a null-flag lane — bare concat_ws drops NULLs,
    so a NULL-text row would fingerprint identically to its bare id),
    and the combiner folds TWO independent order-invariant lanes — Σh
    and Σ(h² mod 2^60) — plus the row count. A multiset of rows that
    collides on the sum lane (trivial to hit by swapping rows between
    batches) must simultaneously collide on the second-moment lane,
    which requires a genuine 60-bit second preimage. An accidental
    collision silently no-ops a whole batch (the worst ingest failure),
    so the id is also worth logging at the call site — the CLI prints
    it per run.

    Costs one extra pass over the batch (an md5 per row + map-side-
    combinable sums — O(batch), no shuffle of the corpus). Trade-off:
    the manifest txn map gains one entry per unique batch ever
    ingested; acceptable for CLI-cadence batches, and a true duplicate
    batch (identical ids AND texts) being skipped is the desired
    idempotent-ingest behavior.
    """
    fp_col = md5_int60(
        F.concat_ws(
            "\x1f",
            F.col(id_col).cast("string"),
            F.coalesce(F.col(text_col), F.lit("")),
            F.col(text_col).isNull().cast("int").cast("string"),
        )
    )
    # h² mod 2^60 in overflow-free LONG arithmetic: split h = hi·2^30
    # + lo (hi, lo < 2^30); h² ≡ ((2·hi·lo) mod 2^30)·2^30 + lo²
    # (mod 2^60), every intermediate < 2^61.
    hi = F.shiftright(fp_col, 30)
    lo = fp_col.bitwiseAND(F.lit((1 << 30) - 1))
    sq = ((hi * lo * 2) % F.lit(1 << 30)) * F.lit(1 << 30) + lo * lo
    row = docs.agg(
        F.sum(fp_col.cast("decimal(38,0)")).alias("s"),
        F.sum(sq.cast("decimal(38,0)")).alias("s2"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    n = int(row["n"])
    fp = (int(row["s"] or 0) + n) % (1 << 60)
    fp2 = (int(row["s2"] or 0) + n) % (1 << 60)
    import hashlib

    pfp = hashlib.md5(repr(tuple(params)).encode()).hexdigest()[:8]
    # MIGRATION NOTE (round-6 format change): earlier builds wrote txn
    # ids of the form ``cli-dedup:{fp:015x}`` (content sum only — no
    # second-moment lane, no params fingerprint). Records in that form
    # can never match the current id, so replaying a batch that was
    # fully ingested by a PRE-round-6 build re-appends it instead of
    # no-opping. This is deliberate: the old id was collision-prone
    # (order-swap sums) and params-blind (a corrected-threshold re-run
    # would wrongly no-op), and re-appending is SAFE here — equal-id
    # self-matches are excluded in dedup_increment, so a replayed batch
    # reproduces the same survivors; only duplicate index rows result,
    # which are correctness-benign (equal-id candidate pairs are
    # excluded and the candidate set is distinct()-ed) and cost only
    # storage until a manual dedup-rewrite of the index.
    return (f"cli-dedup:{fp:015x}{fp2:015x}:{pfp}", 1)


def run_incremental_dedup(
    spark: SparkSession,
    new_docs: DataFrame,
    index_path: str,
    corpus_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    hash_family: str = "xxhash64",
    corpus_txn: tuple[str, int] | None = None,
    index_txn: tuple[str, int] | None = None,
    n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """The per-batch step: dedup ``new_docs`` against the
    manifest-committed index at ``index_path``, append the survivors to
    the corpus at ``corpus_path`` and their signature rows to the
    index, and return the (materialized) survivors.

    Each append is an O(batch) append-log commit; the manifest's
    segment list grows by one (compact with
    ``manifest.compact_versioned`` when small segments accumulate).
    ``corpus_txn`` / ``index_txn`` (``(app_id, epoch)``) make each
    commit idempotent via the manifest txn record: a replayed batch
    skips any commit that already landed.

    Crash safety across the two commits: the corpus commits FIRST, and
    the survivor set is replay-deterministic (equal-id self-matches are
    excluded in :func:`dedup_increment`, so a batch whose index rows
    already landed recomputes the same survivors). A crash between the
    commits re-runs the batch, skips the applied corpus append via its
    txn record, and applies the missing index append. The reverse
    order could lose documents: indexed, so a replay drops their
    near-duplicates, but never appended to the corpus."""
    index = manifest.read_versioned(spark, index_path, schema=INDEX_SCHEMA)
    survivors, new_rows = dedup_increment(
        new_docs,
        index,
        id_col,
        text_col,
        threshold,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        hash_family=hash_family,
    )
    manifest.commit_append(survivors, corpus_path, txn=corpus_txn)
    manifest.commit_append(new_rows, index_path, txn=index_txn)
    return survivors


def run_streaming_dedup(
    spark: SparkSession,
    docs_stream: DataFrame,
    index_path: str,
    corpus_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
    hash_family: str = "xxhash64",
    n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
):
    """Streaming corpus ingestion with online dedup: every micro-batch
    runs :func:`run_incremental_dedup` with both commits tagged with
    the foreachBatch epoch (Delta-style manifest txn records), so a
    replayed epoch skips any commit that already landed instead of
    double-appending, and a crash between the commits loses no
    document."""

    def handle(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        run_incremental_dedup(
            spark,
            batch,
            index_path,
            corpus_path,
            id_col=id_col,
            text_col=text_col,
            threshold=threshold,
            hash_family=hash_family,
            corpus_txn=("dedup-corpus", epoch_id),
            index_txn=("dedup-index", epoch_id),
            n=n,
            num_hashes=num_hashes,
            bands=bands,
        )

    writer = docs_stream.writeStream.outputMode("append").foreachBatch(handle)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ------------------- incremental EXACT-SUBSTRING dedup (window index)

#: window-index schema: one row per (window hash, owning doc). The id
#: is carried so a REPLAYED batch's own windows never self-match
#: (epoch idempotence — the signature index's equal-id-exclusion rule).
WINDOW_INDEX_SCHEMA = "h long, id long"


def ensure_window_index(
    spark: SparkSession, table: str, num_buckets: int = 32
) -> None:
    """Create the physically bucketed substring-window index if
    absent: a managed table bucketed by ``h`` — the probe join key —
    so index files are hash-partitioned on disk and the per-batch
    probe reads them in place (no exchange, no sort of the O(corpus)
    side). A ``_compacting`` staging orphan left by a crashed
    :func:`compact_window_index` holds the ONLY copy of the index and
    is renamed back, never shadowed by an empty re-create
    (:func:`~asset_prices_parquet_saver_spark.sources.warehouse.
    ensure_bucketed_table`)."""
    ensure_bucketed_table(spark, table, WINDOW_INDEX_SCHEMA, ("h",), num_buckets)


def _append_windows(
    spark: SparkSession, wins: DataFrame, window_table: str, num_buckets: int
) -> None:
    """Append (h, id) window rows to the bucketed index under the
    table lock shared with :func:`compact_window_index`, then refresh
    THIS session's relation cache: the append may run in a cloned
    session (streaming foreachBatch), which invalidates only the
    clone's cache, and the next probe would otherwise see a stale
    (possibly empty) listing."""
    with _table_lock(spark, window_table):
        (
            wins.select("h", "id")
            .write.bucketBy(num_buckets, "h")
            .sortBy("h")
            .mode("append")
            .saveAsTable(window_table)
        )
    spark.catalog.refreshTable(window_table)


def substring_increment_bucketed(
    spark: SparkSession,
    new_docs: DataFrame,
    window_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_buckets: int = 32,
    append_windows: bool = True,
) -> DataFrame:
    """Incremental exact-substring dedup (the batch-arrival shape of
    :func:`~asset_prices_parquet_saver_spark.operators.dedup.
    duplicated_spans`): duplicated token spans of the NEW batch's
    documents against everything seen before — a window counts as
    duplicated when its hash exists in the persisted index under a
    DIFFERENT doc id, or verbatim in a second batch document. With the
    index holding exactly the prior corpus's windows this reproduces
    the from-scratch ≥2-distinct-docs semantics restricted to batch
    ids (equivalence test-pinned), without rescanning the corpus.

    Appends the batch's window rows (unless ``append_windows=False``
    — for callers that commit a TRANSFORMED batch to the corpus and
    must index the committed text instead, e.g.
    :func:`run_streaming_substring_scrub`) and returns the span
    relation (id, span_start, span_end, span_tokens).

    Scale shape: the batch tokenizes/hashes in one Arrow kernel pass;
    the probe is a shuffled-hash join in which the BATCH builds the
    hash side and the bucketed index streams through IN PLACE
    (plan-asserted: one exchange — the batch's — `Bucketed: true` on
    the index scan); per-batch cost is O(batch windows + colliding
    index rows), never O(corpus). The appends are metastore writes,
    not single-file-atomic commits: replays are harmless for results
    via the equal-id exclusion but grow the index until a
    :func:`compact_window_index` (an Iceberg/Delta table gives atomic
    appends)."""
    from asset_prices_parquet_saver_spark.operators.dedup import (
        _merge_spans,
        window_rows,
    )

    ensure_window_index(spark, window_table, num_buckets)
    wins = window_rows(new_docs, id_col, text_col, k).localCheckpoint()
    idx = spark.table(window_table)
    # INNER join, not semi: a semi join must hash-build its RIGHT side
    # (Spark rejects build-left for semi), which would build the
    # O(corpus) index per task — the in-place probe shape (batch as
    # the hinted build side, index streamed in place) needs inner +
    # the downstream distinct
    hits_corpus = (
        wins.alias("a")
        .hint("shuffle_hash")
        .join(
            idx.alias("b"),
            (F.col("a.h") == F.col("b.h")) & (F.col("a.id") != F.col("b.id")),
        )
        .select(F.col("a.id").alias("id"), F.col("a.pos").alias("pos"))
    )
    dup_batch = (
        wins.groupBy("h")
        .agg(F.min("id").alias("lo"), F.max("id").alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .select("h")
    )
    hits_batch = wins.join(dup_batch, "h").select("id", "pos")
    hits = hits_corpus.unionByName(hits_batch).distinct()
    spans = _merge_spans(hits, k).localCheckpoint()
    if append_windows:
        _append_windows(spark, wins, window_table, num_buckets)
    return spans


def compact_window_index(
    spark: SparkSession, table: str, num_buckets: int = 32
) -> tuple[int, int]:
    """Compact the substring window index's accumulated append files.

    Every :func:`_append_windows` append writes a fresh file per
    (task, bucket), so after B batches the probe scan opens
    O(B × buckets) small files — the classic small-files decay of any
    append-log index. Rewrite into a staging table with ONE file per
    non-empty bucket: repartition by the COMPUTED bucket id
    (``pmod(hash(h), num_buckets)``, the writer's own Murmur3-pmod
    bucket expression), so all rows of a bucket land on one task and
    the bucketed writer emits a single file for it. Repartitioning on
    the raw key column is NOT equivalent: the write-side task layout
    doesn't preserve the shuffle's partition-per-bucket mapping, and
    each task then spills one file per bucket it happens to hold.

    Multi-writer safety, two layers:

    1. **vs appenders** — a batch APPENDED to the index during the
       rewrite would be silently dropped from the folded table (the
       lost-update the manifest CAS exists for). The compactor records
       the table's file listing at read time, then takes the SAME
       advisory lock every append holds (:func:`_table_lock`) and
       re-verifies the listing under it before the swap: an append
       that landed during the rewrite raises
       :class:`~..sources.manifest.CommitConflict` (staging discarded,
       live index untouched — best-effort maintenance, re-run); an
       append that arrives after lock acquisition blocks until the
       swap completes, so the historical check-then-act LOST-UPDATE
       window between re-verify and DROP is closed. Residual race,
       read-side: an appender's PROBE scan (``spark.table(index)``
       read while computing spans) runs outside any lock, so a scan in
       flight across the DROP/RENAME swap can fail transiently on
       deleted files — a retryable read error, not a lost update.
       Holding the table lock across the probe read would close it at
       the cost of serializing every probe with compaction; on plain
       Parquet we accept the transient instead (an Iceberg/Delta
       snapshot read is the zero-cost fix).
    2. **vs other compactors** — a whole-run ``_COMPACTOR.lock``
       serializes compactions, so two concurrent compactors can never
       interleave their staging rewrites or DROP/RENAME swaps (lock
       order: compactor lock, then table lock — appenders take only
       the latter, so no deadlock).

    Crash recovery: a compaction that died between its DROP and
    RENAME leaves the only copy of the index in the ``_compacting``
    staging table; both this function and :func:`ensure_window_index`
    rename it back into place.

    On an Iceberg / Delta catalog this whole function is a
    rewrite-data-files action with a snapshot commit and a zero-width
    window instead.

    Returns ``(files_before, files_after)``."""
    from asset_prices_parquet_saver_spark.sources.manifest import CommitConflict

    staging = f"{table}_compacting"
    # Recover a crashed predecessor FIRST: if the index is gone but the
    # staging table exists, the previous compaction died between DROP
    # and RENAME and staging holds the only copy — renaming it into
    # place must precede the stale-staging drop below, which is safe
    # only once the main table exists. heal first: the killed run may
    # also have orphaned the main table's directory, which would block
    # the rename into place.
    if not spark.catalog.tableExists(table) and spark.catalog.tableExists(staging):
        heal_table_location(spark, table)
        spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")
    with manifest.path_lock(_lock_path(spark, table, "compactor")):
        spark.sql(f"DROP TABLE IF EXISTS {staging}")
        heal_table_location(spark, staging)  # orphaned staging dir
        cur = spark.table(table)
        expect = sorted(cur.inputFiles())
        files_before = len(expect)
        bucket_id = F.pmod(F.hash("h"), F.lit(num_buckets))
        (
            cur.repartition(num_buckets, bucket_id)
            .write.bucketBy(num_buckets, "h")
            .sortBy("h")
            .mode("overwrite")
            .saveAsTable(staging)
        )
        if _test_pre_publish_hook is not None:
            _test_pre_publish_hook()
        with _table_lock(spark, table):
            # refresh first: the catalog caches the relation's file
            # index, and a stale listing here would false-pass the
            # drift check
            spark.catalog.refreshTable(table)
            if sorted(spark.table(table).inputFiles()) != expect:
                spark.sql(f"DROP TABLE IF EXISTS {staging}")
                raise CommitConflict(
                    f"{table}: index files changed during compaction — a "
                    "concurrent append landed; the rewrite was discarded "
                    "(re-run to compact the new state)"
                )
            spark.sql(f"DROP TABLE {table}")
            spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")
    return files_before, len(spark.table(table).inputFiles())


def run_streaming_substring_scrub(
    spark: SparkSession,
    docs_stream: DataFrame,
    window_table: str,
    corpus_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_buckets: int = 32,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
):
    """Streaming corpus ingestion with online EXACT-SUBSTRING
    scrubbing: every micro-batch's duplicated spans (vs everything
    seen before — :func:`substring_increment_bucketed`) are excised
    and the SCRUBBED documents appended to the corpus via an
    epoch-idempotent manifest commit. Unlike the near-dup streaming
    path (which drops whole documents), substring scrubbing keeps
    every document and removes only the verbatim-repeated token runs —
    the Lee et al. curation applied at ingestion time.

    Index invariant: the index receives the SCRUBBED batch's windows
    (what was committed to the corpus), not the raw batch's — so
    "index == windows of the stored corpus" holds across epochs and a
    from-scratch :func:`~asset_prices_parquet_saver_spark.operators.
    dedup.duplicated_spans` over the saved corpus reproduces the
    streaming decisions (the probe itself still runs on the raw text,
    which is what the batch's spans are defined over). Excised runs
    stay scrubbed for future batches because the FIRST occurrence —
    the one that survives — remains indexed.

    Replay safety: the span computation is replay-deterministic (a
    replayed batch's own indexed windows are excluded by the equal-id
    rule), and the corpus commit carries the foreachBatch epoch in its
    txn record, so a crashed epoch re-runs to the same scrubbed rows
    and skips the append if it already landed. The window-index append
    itself is a metastore write (not idempotent — replays grow it
    harmlessly; :func:`compact_window_index` reclaims)."""
    from asset_prices_parquet_saver_spark.operators.dedup import (
        excise_spans,
        window_rows,
    )

    def handle(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        spans = substring_increment_bucketed(
            spark, batch, window_table, id_col, text_col, k, num_buckets,
            append_windows=False,
        )
        clean = excise_spans(batch, id_col, text_col, spans)
        scrubbed = (
            batch.join(
                clean.select(
                    F.col("id").alias(id_col), F.col("clean_text")
                ),
                id_col,
                "left",
            )
            .withColumn(text_col, F.coalesce("clean_text", F.col(text_col)))
            .drop("clean_text")
            .localCheckpoint()
        )
        manifest.commit_append(
            scrubbed, corpus_path, txn=("substring-corpus", epoch_id)
        )
        # index exactly what was committed: the scrubbed text's windows
        _append_windows(
            spark, window_rows(scrubbed, id_col, text_col, k), window_table,
            num_buckets,
        )

    writer = docs_stream.writeStream.outputMode("append").foreachBatch(handle)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
