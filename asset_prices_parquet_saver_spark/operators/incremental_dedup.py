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

The exact-substring window index (:func:`substring_increment`) is a
manifest append-log table as well, so both incremental indexes share
one commit protocol: txn-idempotent appends and version-pinned
compaction (``manifest.compact_versioned``).
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

#: signature-index schema (see minhash_dedup's arrs frame)
INDEX_SCHEMA = "id long, arr array<long>, n_sh int, sig array<long>"


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
    if not checkpoint_dir:
        # the txn records are keyed by epoch: without a checkpoint a new
        # run restarts at epoch 0 and its commits would be skipped
        raise ValueError("run_streaming_dedup needs checkpoint_dir")

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

    writer = (
        docs_stream.writeStream.outputMode("append")
        .foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ------------------- incremental EXACT-SUBSTRING dedup (window index)

#: window-index schema: one row per (window hash, owning doc). The id
#: is carried so a REPLAYED batch's own windows never self-match
#: (epoch idempotence — the signature index's equal-id-exclusion rule).
WINDOW_INDEX_SCHEMA = "h long, id long"


def _window_hits(wins: DataFrame, index: DataFrame) -> DataFrame:
    """(id, pos) of the batch windows whose hash the index holds under
    a DIFFERENT doc id. INNER join, not semi: Spark broadcasts only the
    right side of a semi join, which here is the O(corpus) index; an
    inner join lets the planner broadcast the smaller side, which is
    the checkpointed batch once the index outgrows it, so the index
    scan streams through without an exchange (the caller's distinct
    removes the per-match duplicates)."""
    return wins.alias("a").join(
        index.alias("b"),
        (F.col("a.h") == F.col("b.h")) & (F.col("a.id") != F.col("b.id")),
    ).select(F.col("a.id").alias("id"), F.col("a.pos").alias("pos"))


def substring_increment(
    spark: SparkSession,
    new_docs: DataFrame,
    window_index: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    append_windows: bool = True,
) -> DataFrame:
    """Incremental exact-substring dedup (the batch-arrival shape of
    :func:`~asset_prices_parquet_saver_spark.operators.dedup.
    duplicated_spans`): duplicated token spans of the NEW batch's
    documents against everything seen before — a window counts as
    duplicated when its hash exists in the window index at
    ``window_index`` (a manifest append-log table,
    :data:`WINDOW_INDEX_SCHEMA`; a missing table reads as empty) under
    a DIFFERENT doc id, or verbatim in a second batch document. With the
    index holding exactly the prior corpus's windows this reproduces
    the from-scratch ≥2-distinct-docs semantics restricted to batch
    ids (equivalence test-pinned), without rescanning the corpus.

    Appends the batch's window rows as one ``manifest.commit_append``
    (unless ``append_windows=False`` — for callers that commit a
    TRANSFORMED batch to the corpus and must index the committed text
    instead, e.g. :func:`run_streaming_substring_scrub`) and returns
    the span relation (id, span_start, span_end, span_tokens).

    Scale shape: the batch tokenizes/hashes in one Arrow kernel pass
    and is checkpointed, so the planner sees its size; once the index
    is the larger side the probe (:func:`_window_hits`) broadcasts the
    batch and streams the index scan (plan-asserted: no exchange over
    the index scan). Per-batch cost is O(batch windows) plus one pass
    over the index files. A batch too large to broadcast makes the
    join shuffle the index (SCALE.md). Replays are harmless for results via the equal-id
    exclusion; without a txn each call appends (the streaming wrapper
    passes one), and ``manifest.compact_versioned`` folds the segments
    when they pile up."""
    from asset_prices_parquet_saver_spark.operators.dedup import (
        _merge_spans,
        window_rows,
    )

    wins = window_rows(new_docs, id_col, text_col, k).localCheckpoint()
    idx = manifest.read_versioned(
        spark, window_index, schema=WINDOW_INDEX_SCHEMA
    )
    dup_batch = (
        wins.groupBy("h")
        .agg(F.min("id").alias("lo"), F.max("id").alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .select("h")
    )
    hits_batch = wins.join(dup_batch, "h").select("id", "pos")
    hits = _window_hits(wins, idx).unionByName(hits_batch).distinct()
    spans = _merge_spans(hits, k).localCheckpoint()
    if append_windows:
        manifest.commit_append(wins.select("h", "id"), window_index)
    return spans


def run_streaming_substring_scrub(
    spark: SparkSession,
    docs_stream: DataFrame,
    window_index: str,
    corpus_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
):
    """Streaming corpus ingestion with online EXACT-SUBSTRING
    scrubbing: every micro-batch's duplicated spans (vs everything
    seen before — :func:`substring_increment`) are excised and the
    SCRUBBED documents appended to the corpus via an epoch-idempotent
    manifest commit. Unlike the near-dup streaming path (which drops
    whole documents), substring scrubbing keeps every document and
    removes only the verbatim-repeated token runs — the Lee et al.
    curation applied at ingestion time.

    Index invariant: the index receives the SCRUBBED batch's windows
    (what was committed to the corpus), not the raw batch's — so
    "index == windows of the stored corpus" holds across epochs and a
    from-scratch :func:`~asset_prices_parquet_saver_spark.operators.
    dedup.duplicated_spans` over the saved corpus reproduces the
    streaming decisions (the probe itself still runs on the raw text,
    which is what the batch's spans are defined over). Excised runs
    stay scrubbed for future batches because the FIRST occurrence —
    the one that survives — remains indexed.

    Replay safety: both commits carry the foreachBatch epoch in their
    txn record (``("substring-corpus", epoch)``, then
    ``("substring-windows", epoch)``), so a replayed epoch skips every
    commit that already landed. The span computation is
    replay-deterministic (a replayed batch's own indexed windows are
    excluded by the equal-id rule), so a crash between the two commits
    re-runs to the same scrubbed rows, skips the corpus append and
    applies the missing index append. Each epoch adds one index
    segment; after the index append ``manifest.maybe_compact`` folds
    them into one once they pass its threshold, so probes read a
    bounded number of segments."""
    from asset_prices_parquet_saver_spark.operators.dedup import (
        excise_spans,
        window_rows,
    )

    if not checkpoint_dir:
        # the txn records are keyed by epoch: without a checkpoint a new
        # run restarts at epoch 0 and its commits would be skipped
        raise ValueError("run_streaming_substring_scrub needs checkpoint_dir")

    def handle(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        spans = substring_increment(
            spark, batch, window_index, id_col, text_col, k,
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
        manifest.commit_append(
            window_rows(scrubbed, id_col, text_col, k).select("h", "id"),
            window_index,
            txn=("substring-windows", epoch_id),
        )
        # one segment per epoch: fold them before probes read many
        manifest.maybe_compact(spark, window_index, schema=WINDOW_INDEX_SCHEMA)

    writer = (
        docs_stream.writeStream.outputMode("append")
        .foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
