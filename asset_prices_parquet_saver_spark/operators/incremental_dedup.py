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
5. survivors' signature rows are appended to the index.

At 100 TB: the index table should be bucketed by its band keys (store
the exploded (band, bucket, id) form with ``DataFrameWriter.bucketBy``
on (band, bucket)) so step 2 is a shuffle of the BATCH only; the
verification join fetches only colliding index rows.
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
    heal_table_location,
)

#: fault-injection seam (tests only): runs between the staging rewrite
#: and the pre-publish drift check of :func:`compact_band_index`, i.e.
#: inside the window where a concurrent append would historically have
#: been lost.
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


def _band_table_lock(spark: SparkSession, table: str):
    """One advisory lock per band-index table, shared by appenders
    (:func:`dedup_increment_bucketed`) and the compactor
    (:func:`compact_band_index`): with both sides holding it, no append
    can land inside the compactor's rewrite→verify→swap window, closing
    the check-then-act race on a local filesystem. (On an object-store
    catalog the answer is an Iceberg/Delta snapshot commit instead —
    see dedup_increment_bucketed's docstring.)"""
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
    signature rows to append to the index. Pure transformation — the
    caller owns persistence (see :func:`run_incremental_dedup`)."""
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
    survivors = new_docs.join(losers, id_col, "left_anti")
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
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    hash_family: str = "xxhash64",
    epoch: tuple[str, int] | None = None,
    n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Dedup ``new_docs`` against the manifest-committed index at
    ``index_path``, append the survivors' signatures as a new snapshot
    commit, and return the survivors. The commit is atomic — a crash
    mid-step leaves the previous index version live. Replaying the same
    batch is safe: equal-id self-matches are excluded in
    :func:`dedup_increment`, so the recomputed survivor set is identical
    even if the index commit already landed, and passing
    ``epoch=(app_id, epoch_id)`` (from foreachBatch) makes the index
    commit itself idempotent via the manifest txn record."""
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
    # localCheckpoint BEFORE the commit: the index append evaluates the
    # whole banding/join/verification pipeline (new_rows derives from
    # survivors), and the caller's first action on the returned
    # survivors would otherwise re-execute it all a second time — the
    # streaming twin checkpoints both outputs for the same reason.
    survivors = survivors.localCheckpoint()
    # append-log commit: O(batch) — only the new signature rows are
    # written; the manifest's segment list grows by one. Compact with
    # manifest.compact_versioned when small segments accumulate.
    manifest.commit_append(new_rows, index_path, txn=epoch)
    return survivors


#: bucketed band-index schema: one row per (surviving doc, band), the
#: shingle array denormalized in so verification never touches a second
#: table (the standard LSH-index space/time trade: ×bands array copies
#: buy a single-join probe path)
BAND_INDEX_SCHEMA = "band int, bucket long, id long, arr array<long>, n_sh int"


def ensure_band_index(
    spark: SparkSession, table: str, num_buckets: int = 32
) -> None:
    """Create the physically bucketed signature index if absent: a
    managed table bucketed by (band, bucket) — the join keys of the
    per-batch LSH probe — so index files are already hash-partitioned
    on disk and the probe join never shuffles the index side.

    Crash recovery: if the index is missing but its ``_compacting``
    staging table exists, a compaction died between its DROP and
    RENAME — the staging table holds the ONLY copy of the index, so
    rename it into place. Creating a fresh empty index there would
    silently forget the whole dedup history and re-accept every
    previously-seen near-duplicate."""
    if not spark.catalog.tableExists(table):
        heal_table_location(spark, table)  # orphaned dir from a killed run
        staging = f"{table}_compacting"
        if spark.catalog.tableExists(staging):
            spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")
            return
        (
            spark.createDataFrame([], BAND_INDEX_SCHEMA)
            .write.bucketBy(num_buckets, "band", "bucket")
            .sortBy("band", "bucket")
            .mode("overwrite")
            .saveAsTable(table)
        )


def _banded_losers(
    nb: DataFrame, ib: DataFrame, threshold: float, id_col: str
) -> DataFrame:
    """Shared probe of a banded batch against a banded index: the
    batch (hash side, hinted shuffle_hash) joins the index on
    (band, bucket) — in place for a metastore-bucketed index, one
    exchange for a manifest segment scan — plus the batch-internal
    smaller-id-predecessor self join; inline Jaccard verification on
    the carried shingle arrays. Equal-id matches excluded — see
    dedup_increment."""
    inter = F.size(F.array_intersect("arr_new", "arr_prev"))
    jac = inter / (F.col("n_new") + F.col("n_prev") - inter)
    losers_old = (
        nb.alias("a")
        .hint("shuffle_hash")
        .join(ib.alias("b"), ["band", "bucket"])
        .filter(F.col("a.id") != F.col("b.id"))
        .select(
            F.col("a.id").alias("id_new"),
            F.col("a.arr").alias("arr_new"),
            F.col("a.n_sh").alias("n_new"),
            F.col("b.arr").alias("arr_prev"),
            F.col("b.n_sh").alias("n_prev"),
        )
        .filter(jac >= F.lit(threshold))
        .select(F.col("id_new").alias(id_col))
    )
    losers_new = (
        nb.alias("a")
        .join(nb.alias("b"), ["band", "bucket"])
        .filter(F.col("b.id") < F.col("a.id"))
        .select(
            F.col("a.id").alias("id_new"),
            F.col("a.arr").alias("arr_new"),
            F.col("a.n_sh").alias("n_new"),
            F.col("b.arr").alias("arr_prev"),
            F.col("b.n_sh").alias("n_prev"),
        )
        .filter(jac >= F.lit(threshold))
        .select(F.col("id_new").alias(id_col))
    )
    return losers_old.unionByName(losers_new).distinct()


def dedup_increment_bucketed(
    spark: SparkSession,
    new_docs: DataFrame,
    band_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
    hash_family: str = "xxhash64",
    num_buckets: int = 32,
) -> DataFrame:
    """Incremental dedup against a PHYSICALLY BUCKETED band index —
    the 100 TB shape of :func:`dedup_increment`: the index is a managed
    table bucketed by (band, bucket), so the per-batch LSH probe join
    reads index buckets in place and shuffles ONLY the batch side
    (plan-asserted in tests/test_plans.py). The batch builds the hash
    side of a shuffled-hash join; the index streams through it — no
    exchange and no sort of the O(corpus) side, per batch cost
    O(batch + colliding index rows).

    The index row carries the doc's shingle array, so candidate
    verification happens inline on the join output instead of
    re-joining (and re-shuffling) a second signatures table.

    Appends survivors' band rows to the index and returns survivors.
    vs the manifest variants: bucketing needs the session catalog
    (a metastore), whose appends are not single-file-atomic commits.
    :func:`dedup_increment_manifest_banded` keeps the same banded
    layout under the manifest protocol (atomic, epoch-idempotent,
    CAS-compacted) at the cost of one index exchange per probe; an
    Iceberg bucket-transform partition spec gives both properties at
    once. A torn write here is recoverable: the band index is
    derivable, and a re-run only re-appends rows whose equal-id
    matches are excluded anyway."""
    ensure_band_index(spark, band_table, num_buckets)
    if bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes} "
            "(rows_per_band = num_hashes // bands >= 1; see dedup_increment)"
        )
    rows_per_band = num_hashes // bands
    new_sig = signature_frame(
        new_docs, id_col, text_col, n, num_hashes, hash_family
    ).localCheckpoint()
    nb = banded_keys(
        new_sig.filter(F.col("n_sh") > 0), bands, rows_per_band,
        carry=("arr", "n_sh"),
    ).localCheckpoint()  # reused: probe join, self join, index append
    ib = spark.table(band_table)
    losers = _banded_losers(nb, ib, threshold, id_col)
    survivors = new_docs.join(losers, id_col, "left_anti").localCheckpoint()
    new_rows = nb.join(
        survivors.select(F.col(id_col).alias("id")), "id", "left_semi"
    ).select("band", "bucket", "id", "arr", "n_sh")
    # the table lock is shared with compact_band_index: an append can
    # never land inside the compactor's rewrite→verify→swap window
    with _band_table_lock(spark, band_table):
        (
            new_rows.write.bucketBy(num_buckets, "band", "bucket")
            .sortBy("band", "bucket")
            .mode("append")
            .saveAsTable(band_table)
        )
    # the append may run in a cloned session (streaming foreachBatch);
    # drop THIS session's cached table relation so the next probe sees
    # the new files instead of a stale (possibly empty) listing
    spark.catalog.refreshTable(band_table)
    return survivors


def compact_band_index(
    spark: SparkSession, table: str, num_buckets: int = 32
) -> tuple[int, int]:
    """Compact the bucketed band index's accumulated append files.

    Every :func:`dedup_increment_bucketed` append writes a fresh file
    per (task, bucket), so after B batches the probe scan opens
    O(B × buckets) small files — the classic small-files decay of any
    append-log index. Rewrite into a staging table with ONE file per
    non-empty bucket: repartition by the COMPUTED bucket id
    (``pmod(hash(band, bucket), num_buckets)``, the writer's own
    Murmur3-pmod bucket expression — asserted aligned in the test), so
    all rows of a bucket land on one task and the bucketed writer
    emits a single file for it. Repartitioning on the raw key columns
    is NOT equivalent: the write-side task layout doesn't preserve the
    shuffle's partition-per-bucket mapping, and each task then spills
    one file per bucket it happens to hold.

    Multi-writer safety, two layers:

    1. **vs appenders** — a batch APPENDED to the index during the
       rewrite would be silently dropped from the folded table (the
       lost-update the manifest CAS exists for). The compactor records
       the table's file listing at read time, then takes the SAME
       advisory lock every :func:`dedup_increment_bucketed` append
       holds (:func:`_band_table_lock`) and re-verifies the listing
       under it before the swap: an append that landed during the
       rewrite raises :class:`~..sources.manifest.CommitConflict`
       (staging discarded, live index untouched — best-effort
       maintenance, re-run); an append that arrives after lock
       acquisition blocks until the swap completes, so the historical
       check-then-act LOST-UPDATE window between re-verify and DROP is
       closed. Residual race, read-side: an appender's PROBE scan
       (``spark.table(index)`` read while computing losers/survivors)
       runs outside any lock, so a scan in flight across the
       DROP/RENAME swap can fail transiently on deleted files — a
       retryable read error, not a lost update. Holding the table lock
       across the probe read would close it at the cost of serializing
       every probe with compaction; on plain Parquet we accept the
       transient instead (an Iceberg/Delta snapshot read is the
       zero-cost fix).
    2. **vs other compactors** — a whole-run ``_COMPACTOR.lock``
       serializes compactions, so two concurrent compactors can never
       interleave their staging rewrites or DROP/RENAME swaps (lock
       order: compactor lock, then table lock — appenders take only
       the latter, so no deadlock).

    On an Iceberg / Delta catalog this whole function is a
    rewrite-data-files action with a snapshot commit and a zero-width
    window instead.

    Returns ``(files_before, files_after)``."""
    return _compact_bucketed_index(spark, table, num_buckets, ("band", "bucket"))


def _compact_bucketed_index(
    spark: SparkSession,
    table: str,
    num_buckets: int,
    key_cols: tuple[str, ...],
) -> tuple[int, int]:
    """Shared rewrite→verify→swap compaction for any metastore table
    bucketed on ``key_cols`` (the band index and the substring window
    index) — one body so the multi-writer/crash-recovery guarantees
    documented on :func:`compact_band_index` can never diverge between
    the two layouts."""
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
        bucket_id = F.pmod(F.hash(*key_cols), F.lit(num_buckets))
        (
            cur.repartition(num_buckets, bucket_id)
            .write.bucketBy(num_buckets, *key_cols)
            .sortBy(*key_cols)
            .mode("overwrite")
            .saveAsTable(staging)
        )
        if _test_pre_publish_hook is not None:
            _test_pre_publish_hook()
        with _band_table_lock(spark, table):
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


#: manifest-banded index schema: the band rows plus the writer's
#: physical bucket id, carried as a real column so segments stay
#: clustered and zone-mapped on it
BAND_MANIFEST_SCHEMA = (
    "pbucket int, band int, bucket long, id long, arr array<long>, n_sh int"
)


def _with_pbucket(rows: DataFrame, num_buckets: int) -> DataFrame:
    return rows.withColumn(
        "pbucket", F.pmod(F.hash("band", "bucket"), F.lit(num_buckets))
    ).select("pbucket", "band", "bucket", "id", "arr", "n_sh")


def dedup_increment_manifest_banded(
    spark: SparkSession,
    new_docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
    hash_family: str = "xxhash64",
    num_buckets: int = 32,
    epoch: tuple[str, int] | None = None,
) -> DataFrame:
    """The band index ON the manifest protocol — closing the one gap of
    :func:`dedup_increment_bucketed`: its metastore appends are not
    single-file-atomic commits, so a crash can leave a torn append and
    a replay double-appends. Here the index is a manifest table whose
    rows carry the physical bucket id (``pbucket = pmod(hash(band,
    bucket), num_buckets)``) as a manifest-tracked column; every append
    is one atomic snapshot commit, idempotent under ``epoch`` replay
    via the txn record, and rows are clustered on pbucket before the
    commit (the :func:`~..operators.similarity.build_ivf_index`
    pattern) so each segment holds one file per bucket and parquet
    footer min/max prune by pbucket.

    Trade vs the metastore-bucketed variant: without catalog bucket
    metadata Spark cannot prove the index side's partitioning, so the
    probe join exchanges the index scan once per batch (the batch side
    stays the hinted hash side). The metastore variant keeps the
    in-place probe; an Iceberg bucket-transform spec gives both. Same
    probe/verification semantics (shared :func:`_banded_losers`), same
    survivor set — asserted in tests."""
    survivors, new_rows = _manifest_banded_rows(
        spark, new_docs, index_path, id_col, text_col, threshold,
        n, num_hashes, bands, hash_family, num_buckets,
    )
    _commit_banded_rows(new_rows, index_path, num_buckets, epoch)
    return survivors


def _manifest_banded_rows(
    spark: SparkSession,
    new_docs: DataFrame,
    index_path: str,
    id_col: str,
    text_col: str,
    threshold: float,
    n: int,
    num_hashes: int,
    bands: int,
    hash_family: str,
    num_buckets: int,
) -> tuple[DataFrame, DataFrame]:
    """Pure compute half of the manifest-banded increment: returns
    (survivors, pbucket-tagged index rows), BOTH localCheckpointed so
    the caller can order its commits freely (the streaming twin
    commits the corpus first) without either output lazily re-reading
    the index mid-update."""
    if bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes} "
            "(rows_per_band = num_hashes // bands >= 1; see dedup_increment)"
        )
    rows_per_band = num_hashes // bands
    new_sig = signature_frame(
        new_docs, id_col, text_col, n, num_hashes, hash_family
    ).localCheckpoint()
    nb = banded_keys(
        new_sig.filter(F.col("n_sh") > 0), bands, rows_per_band,
        carry=("arr", "n_sh"),
    ).localCheckpoint()
    ib = manifest.read_versioned(
        spark, index_path, schema=BAND_MANIFEST_SCHEMA
    ).drop("pbucket")
    losers = _banded_losers(nb, ib, threshold, id_col)
    survivors = new_docs.join(losers, id_col, "left_anti").localCheckpoint()
    new_rows = _with_pbucket(
        nb.join(
            survivors.select(F.col(id_col).alias("id")), "id", "left_semi"
        ).select("band", "bucket", "id", "arr", "n_sh"),
        num_buckets,
    ).localCheckpoint()
    return survivors, new_rows


def _commit_banded_rows(
    new_rows: DataFrame,
    index_path: str,
    num_buckets: int,
    epoch: tuple[str, int] | None,
) -> None:
    # cluster the segment on the physical bucket (one file per
    # non-empty bucket) and commit atomically; epoch replay no-ops
    manifest.commit_append(
        new_rows.repartition(num_buckets, F.col("pbucket"))
        .sortWithinPartitions("band", "bucket"),
        index_path,
        txn=epoch,
        stats_cols=["pbucket"],
    )


def compact_band_index_manifest(
    spark: SparkSession, index_path: str, num_buckets: int = 32
) -> tuple[int, int]:
    """Fold the manifest-banded index's accumulated append segments
    into one pbucket-clustered snapshot. The rewrite is pinned to the
    version it read (``expect_version``): a concurrent append raises
    :class:`~..sources.manifest.CommitConflict` inside the manifest's
    own commit lock — a zero-width swap window, no DROP/RENAME, no
    advisory-lock choreography (the property the metastore variant
    needs two lock files to approximate).

    Returns ``(segments_before, segments_after)``."""
    v = manifest.current_version(index_path)
    before = manifest.segment_count(index_path)
    cur = manifest.read_versioned(
        spark, index_path, version=v, schema=BAND_MANIFEST_SCHEMA
    )
    folded = cur.repartition(num_buckets, F.col("pbucket")).sortWithinPartitions(
        "band", "bucket"
    )
    if _test_pre_publish_hook is not None:
        _test_pre_publish_hook()
    manifest.commit_versioned(
        folded, index_path, expect_version=v, stats_cols=["pbucket"]
    )
    return before, manifest.segment_count(index_path)


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
    index_kind: str = "signatures",
    num_buckets: int = 32,
):
    """Streaming corpus ingestion with online dedup: every micro-batch
    is deduplicated against the signature index, survivors are appended
    to the corpus table, and their signatures to the index — both via
    O(batch) append-log commits tagged with the foreachBatch epoch
    (Delta-style manifest txn records), so a replayed epoch skips any
    commit that already landed instead of double-appending.

    Crash-safety across the two commits: the corpus commit goes FIRST,
    and the dedup computation is replay-deterministic (equal-id
    self-matches are excluded), so every crash point replays to the
    same survivor set — a crash between the commits re-runs the batch,
    skips the already-applied corpus append via its txn record, and
    applies the missing index append. No window loses documents.

    ``index_kind``: ``"signatures"`` (the flat INDEX_SCHEMA manifest
    table, default) or ``"banded"`` — the pbucket-clustered band index
    (:func:`dedup_increment_manifest_banded`'s layout), giving every
    micro-batch the zone-mapped one-file-per-bucket segments and the
    CAS-compactable snapshot protocol; same survivor semantics."""
    if index_kind not in ("signatures", "banded"):
        raise ValueError(
            f"index_kind must be 'signatures' or 'banded', got {index_kind!r}"
        )

    def handle(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        if index_kind == "banded":
            survivors, new_rows = _manifest_banded_rows(
                spark, batch, index_path, id_col, text_col, threshold,
                n, num_hashes, bands, hash_family, num_buckets,
            )
            manifest.commit_append(
                survivors, corpus_path, txn=("dedup-corpus", epoch_id)
            )
            _commit_banded_rows(
                new_rows, index_path, num_buckets, ("dedup-index", epoch_id)
            )
            return
        index = manifest.read_versioned(spark, index_path, schema=INDEX_SCHEMA)
        survivors, new_rows = dedup_increment(
            batch,
            index,
            id_col,
            text_col,
            threshold,
            n=n,
            num_hashes=num_hashes,
            bands=bands,
            hash_family=hash_family,
        )
        # materialize both outputs before the first commit so neither
        # lazily re-reads the index mid-way through its own update
        survivors = survivors.localCheckpoint()
        new_rows = new_rows.localCheckpoint()
        manifest.commit_append(
            survivors, corpus_path, txn=("dedup-corpus", epoch_id)
        )
        manifest.commit_append(
            new_rows, index_path, txn=("dedup-index", epoch_id)
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
#: (epoch idempotence — the band index's equal-id-exclusion rule).
WINDOW_INDEX_SCHEMA = "h long, id long"


def ensure_window_index(
    spark: SparkSession, table: str, num_buckets: int = 32
) -> None:
    """Create the physically bucketed substring-window index if
    absent: a managed table bucketed by ``h`` — the probe join key —
    so index files are hash-partitioned on disk and the per-batch
    probe reads them in place (no exchange, no sort of the O(corpus)
    side). Same crash-window recovery as :func:`ensure_band_index`:
    a ``_compacting`` staging orphan holds the ONLY copy of the index
    and must be renamed back, never shadowed by an empty re-create."""
    if not spark.catalog.tableExists(table):
        heal_table_location(spark, table)  # orphaned dir from a killed run
        staging = f"{table}_compacting"
        if spark.catalog.tableExists(staging):
            spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")
            return
        (
            spark.createDataFrame([], WINDOW_INDEX_SCHEMA)
            .write.bucketBy(num_buckets, "h")
            .sortBy("h")
            .mode("overwrite")
            .saveAsTable(table)
        )


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
    index rows), never O(corpus). Same metastore-append caveats as
    :func:`dedup_increment_bucketed` (non-atomic appends; replays are
    harmless for results via the equal-id exclusion but grow the
    index until a compaction — the manifest/Iceberg discussion there
    applies verbatim)."""
    from asset_prices_parquet_saver_spark.operators.dedup import (
        _merge_spans,
        window_rows,
    )

    ensure_window_index(spark, window_table, num_buckets)
    wins = window_rows(new_docs, id_col, text_col, k).localCheckpoint()
    idx = spark.table(window_table)
    # INNER join, not semi: a semi join must hash-build its RIGHT side
    # (Spark rejects build-left for semi), which would build the
    # O(corpus) index per task — the band-index probe shape (batch as
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
        with _band_table_lock(spark, window_table):
            (
                wins.select("h", "id")
                .write.bucketBy(num_buckets, "h")
                .sortBy("h")
                .mode("append")
                .saveAsTable(window_table)
            )
        # cloned-session append (streaming foreachBatch) invalidates
        # only the clone's relation cache — refresh the probe session's
        spark.catalog.refreshTable(window_table)
    return spans


def compact_window_index(
    spark: SparkSession, table: str, num_buckets: int = 32
) -> tuple[int, int]:
    """Compact the substring window index's accumulated append files —
    the same small-files decay and the same rewrite→verify→swap
    protocol as :func:`compact_band_index` (shared body:
    :func:`_compact_bucketed_index`), keyed on ``h``."""
    return _compact_bucketed_index(spark, table, num_buckets, ("h",))


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
        with _band_table_lock(spark, window_table):
            (
                window_rows(scrubbed, id_col, text_col, k)
                .select("h", "id")
                .write.bucketBy(num_buckets, "h")
                .sortBy("h")
                .mode("append")
                .saveAsTable(window_table)
            )
        # the write ran under the streaming clone session; refresh the
        # parent so the next batch's probe (and any user read) sees it
        spark.catalog.refreshTable(window_table)

    writer = docs_stream.writeStream.outputMode("append").foreachBatch(handle)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
