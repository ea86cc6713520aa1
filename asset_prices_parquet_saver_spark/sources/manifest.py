"""Manifest-pointer table commits (S7 at object-store scale).

The reference's atomicity idiom is tmp-file + rename
(download_historical_price.py:429-432, update_live_price.py:288-293).
Directory renames don't exist on object stores, so the scale-correct
generalization is the Delta/Iceberg commit protocol: snapshots are
immutable directories, and the COMMIT is the atomic publish of one tiny
metadata file naming the live snapshot.

Layout::

    <table>/_MANIFEST   one-line JSON {"version": N, "segments": [...]}
    <table>/v0000000N/  immutable parquet segment N

A rewrite commit publishes a single-segment list (a full snapshot); an
append commit extends the list with one new segment — the append-log
shape an incremental index needs, O(batch) per commit.

Properties:
  * Executors write each new snapshot directly to its final immutable
    path — no directory rename, no window where the table is missing,
    and the previous snapshot's files are never touched while a lazy
    plan may still be reading them.
  * A writer crash leaves an orphan snapshot directory and the old
    manifest: readers never observe a torn table; the next commit
    numbers past the orphan and garbage-collects it.
  * The only atomicity primitive required is single-object publish —
    here tmp-file + ``os.replace`` (POSIX-atomic); against S3/GCS the
    same call site becomes a conditional PUT (if-match on the read
    manifest generation), which also turns concurrent committers into
    first-writer-wins instead of lost-update.

Legacy migration: a plain parquet directory (no ``_MANIFEST``) reads
as-is; its first versioned commit snapshots the merge result and then
removes the loose root data files.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_MANIFEST"

#: how long a committer waits for a concurrent commit to finish before
#: raising (a crashed holder leaves the .lock file; the error names it).
#: The lock is held ACROSS the segment write — a full Spark job, minutes
#: for a large snapshot — so the wait budget must comfortably exceed a
#: healthy commit, or concurrent committers fail spuriously with an
#: error that tempts operators into deleting a live lock.
LOCK_TIMEOUT_SECONDS = 600.0


@contextlib.contextmanager
def _commit_lock(table: str):
    """Serialize committers of one table on a local filesystem.

    ``os.replace`` publishes atomically but last-writer-wins: two
    concurrent committers would both read the OLD manifest and the
    second publish would silently drop the first one's segment list
    (lost update — fatal for append-log tables). The whole
    read-manifest → write-segment → publish sequence runs under an
    O_CREAT|O_EXCL lock file (the POSIX atomic-claim primitive).
    Against S3/GCS the lock is unnecessary — the publish becomes a
    conditional PUT (if-match), turning races into first-writer-wins
    errors."""
    lock = _manifest_path(table) + ".lock"
    deadline = time.monotonic() + LOCK_TIMEOUT_SECONDS
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            if time.monotonic() >= deadline:
                raise TimeoutError(
                    f"manifest commit lock {lock} held for over "
                    f"{LOCK_TIMEOUT_SECONDS:.0f}s — the file records the "
                    "holder's pid; delete it ONLY after verifying that "
                    "process is dead (removing a live holder's lock "
                    "reintroduces the lost-update race it prevents)"
                ) from None
            time.sleep(0.05)
    try:
        os.write(fd, str(os.getpid()).encode())
        os.close(fd)
        yield
    finally:
        try:
            os.remove(lock)
        except OSError:
            pass


def _manifest_path(table: str) -> str:
    return os.path.join(table, MANIFEST)


def _version_dir(table: str, version: int) -> str:
    return os.path.join(table, f"v{version:08d}")


def _read_manifest(table: str) -> dict | None:
    """Manifest as {"version": N, "segments": [dirnames]} — normalizes
    the single-snapshot form (no "segments" key) for compatibility."""
    try:
        with open(_manifest_path(table)) as fh:
            m = json.load(fh)
    except (FileNotFoundError, NotADirectoryError):
        return None
    m.setdefault("segments", [f"v{int(m['version']):08d}"])
    return m


def current_version(table: str) -> int | None:
    """The committed snapshot number, or None (legacy/empty table)."""
    m = _read_manifest(table)
    return None if m is None else int(m["version"])


def table_meta(table: str, version: int | None = None) -> dict | None:
    """Application metadata published atomically with a commit (the
    ``meta=`` argument of :func:`commit_versioned`). ``version`` reads
    the history copy, so time-travel readers see the metadata that
    described THAT snapshot's state."""
    if version is not None:
        try:
            with open(_manifest_path(table) + f".v{version:08d}") as fh:
                return json.load(fh).get("meta")
        except FileNotFoundError:
            raise FileNotFoundError(
                f"no manifest history for version {version} of {table}"
            ) from None
    m = _read_manifest(table)
    return None if m is None else m.get("meta")


def segment_count(table: str) -> int:
    """Live segments in the current snapshot (0 for a missing table) —
    the public input to append-log compaction policies."""
    m = _read_manifest(table)
    return 0 if m is None else len(m.get("segments", []))


class CommitConflict(Exception):
    """A commit's ``expect_version`` no longer matches the table — a
    concurrent writer published in between. The caller's read-fold-
    rewrite must be retried against the fresh state (or skipped, for
    best-effort maintenance like compaction)."""


def _all_version_dirs(table: str) -> list[int]:
    try:
        names = os.listdir(table)
    except FileNotFoundError:
        return []
    out = []
    for n in names:
        if n.startswith("v") and n[1:].isdigit() and os.path.isdir(os.path.join(table, n)):
            out.append(int(n[1:]))
    return sorted(out)


def _legacy_files(table: str) -> list[str]:
    """Loose pre-manifest data files, including Hive-partitioned
    (``key=value``) subdirectories — everything except snapshot dirs."""
    out: list[str] = []
    for root, dirs, files in os.walk(table):
        if root == table:
            dirs[:] = [
                d for d in dirs if not (d.startswith("v") and d[1:].isdigit())
            ]
        out.extend(
            os.path.join(root, f) for f in files if f.endswith(".parquet")
        )
    return sorted(out)


def read_versioned(
    spark: SparkSession,
    table: str,
    schema=None,
    version: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Resolve the manifest and scan the live snapshot — the union of
    its segment directories (one for rewrite commits, several for
    append-log tables). Falls back to the loose root files for a legacy
    (pre-manifest) directory, and to an empty DataFrame (``schema``
    required) when nothing exists.

    ``version`` time-travels to a historical commit: every commit also
    writes an immutable ``_MANIFEST.vNNNNNNNN`` copy, readable as long
    as its segments survive GC — which retains the previous commit's
    segments, so at least one version back is always available (keep
    deeper history by archiving segments before they age out).

    ``merge_schema=True`` unions the segment schemas (columns added by
    later appends read as NULL on older segments — parquet schema
    evolution); the default keeps the cheap first-footer schema, which
    silently DROPS later-added columns, so pass it whenever an
    append-log table's writers may evolve."""

    def _reader():
        r = spark.read
        if schema is not None:
            r = r.schema(schema)
        elif merge_schema:
            r = r.option("mergeSchema", "true")
        return r

    if version is not None:
        try:
            with open(_manifest_path(table) + f".v{version:08d}") as fh:
                m = json.load(fh)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"no manifest history for version {version} of {table}"
            ) from None
        m.setdefault("segments", [f"v{int(m['version']):08d}"])
        for seg in m["segments"]:
            if not os.path.isdir(os.path.join(table, seg)):
                raise FileNotFoundError(
                    f"version {version} of {table} references GC'd segment {seg}"
                )
        paths = [os.path.join(table, seg) for seg in m["segments"]]
        return _reader().parquet(*paths)
    m = _read_manifest(table)
    if m is not None:
        paths = [os.path.join(table, seg) for seg in m["segments"]]
        return _reader().parquet(*paths)
    files = _legacy_files(table)
    if files:
        # pin the exact legacy files: scanning the directory itself
        # could re-list mid-job and see the in-progress v1 snapshot;
        # basePath recovers Hive partition columns from the paths
        reader = spark.read.option("basePath", table)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*files)
    if schema is None:
        raise FileNotFoundError(f"no manifest, data, or schema for {table}")
    return spark.createDataFrame([], schema)


def last_txn(table: str, app_id: str) -> int:
    """Highest transaction version committed to ``table`` under
    ``app_id``, or -1 — the Delta ``txn`` idiom for exactly-once
    foreachBatch sinks (check-or-skip happens inside :func:`_commit`)."""
    m = _read_manifest(table)
    return int(((m or {}).get("txn") or {}).get(app_id, -1))


def _write_json_atomic(path: str, doc: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(doc, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)  # conditional PUT on S3/GCS


def _segment_stats(table: str, seg: str, cols: list[str]) -> dict:
    """Per-segment min/max for ``cols`` harvested from parquet FOOTERS
    (O(files) metadata reads, no data scan). A column missing
    statistics in any row group is dropped from the result — pruning
    must stay conservative. Only JSON-safe numeric bounds are kept."""
    import glob as _glob

    import pyarrow.parquet as _pq

    acc: dict[str, list] = {}
    complete = set(cols)
    for f in _glob.glob(os.path.join(table, seg, "*.parquet")):
        md = _pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if name not in complete:
                    continue
                st = col.statistics
                if (
                    st is None
                    or st.min is None
                    or st.max is None
                    or not isinstance(st.min, (int, float))
                ):
                    complete.discard(name)
                    acc.pop(name, None)
                    continue
                cur = acc.get(name)
                if cur is None:
                    acc[name] = [st.min, st.max]
                else:
                    cur[0] = min(cur[0], st.min)
                    cur[1] = max(cur[1], st.max)
    return {k: v for k, v in acc.items() if k in complete}


def _commit(
    df: DataFrame,
    table: str,
    append: bool,
    txn: tuple[str, int] | None = None,
    stats_cols: list[str] | None = None,
    expect_version: int | None = None,
    meta: dict | None = None,
) -> int:
    """Shared commit path: write the next immutable segment directory,
    atomically publish a manifest whose segment list either replaces
    (rewrite) or extends (append) the previous one, then GC.

    The new segment number is one past everything on disk — committed
    OR orphan — so a crashed writer's leftovers are never reused. GC
    (post-publish, best-effort) keeps the new manifest's segments plus
    the previous manifest's (in-flight readers), and drops orphans and
    legacy root files superseded by the first versioned commit.

    ``txn=(app_id, version)`` makes the commit idempotent per writer
    stream (the Delta transaction-identifier idiom): the manifest keeps
    the highest version applied per app_id, and a commit at or below it
    is SKIPPED — so a replayed foreachBatch epoch cannot double-append.

    The whole sequence runs under :func:`_commit_lock`, so local-FS
    concurrent committers serialize instead of losing updates.

    ``expect_version`` adds optimistic concurrency for read-fold-rewrite
    callers (compaction): the commit aborts with :class:`CommitConflict`
    if the table's version moved past what the caller read — without
    it, a rewrite computed from version V silently discards any segment
    appended between the read and the publish.
    """
    os.makedirs(table, exist_ok=True)
    with _commit_lock(table):
        prev = _read_manifest(table)
        if expect_version is not None:
            cur = None if prev is None else int(prev["version"])
            if cur != expect_version:
                raise CommitConflict(
                    f"{table}: expected version {expect_version}, found "
                    f"{cur} — a concurrent commit landed; re-read and retry"
                )
        if txn is not None:
            app_id, txn_v = txn
            applied = ((prev or {}).get("txn") or {}).get(app_id, -1)
            if int(applied) >= int(txn_v):
                return int(prev["version"])  # epoch already applied — no-op
        if prev is None and append and _legacy_files(table):
            raise ValueError(
                f"append commit onto legacy directory {table}: absorb the "
                "loose files with a rewrite commit_versioned first"
            )
        prev_segments = prev["segments"] if prev else []
        seen = _all_version_dirs(table)
        new_v = max([(prev or {}).get("version", 0), *seen, 0]) + 1
        new_seg = f"v{new_v:08d}"
        # the segment lands directly at its final, never-reused path; the
        # source-of-truth for readers is still the old manifest until the
        # publish below, so a failure anywhere in this write is invisible
        df.write.mode("overwrite").parquet(os.path.join(table, new_seg))
        segments = [*prev_segments, new_seg] if append else [new_seg]
        doc = {"version": new_v, "segments": segments}
        # application metadata rides IN the manifest document, so it is
        # published in the same atomic os.replace as the segment list — a
        # crash can never separate state from the metadata describing it
        # (the MV spec rode in a sibling file before; the legacy sweep
        # below deleted it every commit, and a crash between commit and
        # spec-rewrite bricked the view). None = carry the previous doc's
        # metadata forward (appends, compaction); a dict replaces it.
        eff_meta = meta if meta is not None else (prev or {}).get("meta")
        if eff_meta is not None:
            doc["meta"] = eff_meta
        # segment-level zone map: carried forward on append (old segments
        # are immutable), rebuilt from scratch on rewrite
        stats = dict((prev or {}).get("stats") or {}) if append else {}
        if stats_cols:
            seg_stats = _segment_stats(table, new_seg, stats_cols)
            if seg_stats:
                stats[new_seg] = seg_stats
        stats = {s: v for s, v in stats.items() if s in segments}
        if stats:
            doc["stats"] = stats
        txns = dict((prev or {}).get("txn") or {})
        if txn is not None:
            txns[txn[0]] = int(txn[1])
        if txns:
            doc["txn"] = txns
        _write_json_atomic(_manifest_path(table), doc)
        # immutable history copy for time-travel reads (small; never GC'd);
        # same tmp+replace path so a crash cannot leave a torn .vN copy
        _write_json_atomic(_manifest_path(table) + f".v{new_v:08d}", doc)
        # ---- post-publish GC (best-effort; failures leave only garbage) --
        live = {int(s[1:]) for s in [*segments, *prev_segments]}
        for v in _all_version_dirs(table):
            if v not in live:
                shutil.rmtree(_version_dir(table, v), ignore_errors=True)
        # legacy sweep: once a manifest exists, everything in the table dir
        # that is neither a segment nor the manifest is superseded data
        # (loose part files, Hive partition dirs, _SUCCESS markers).
        # DEFERRED past the transition commit: the FIRST versioned commit
        # (prev is None) leaves the legacy files in place so an in-flight
        # legacy reader (whose plan pinned those exact file paths) survives
        # it — the same one-commit grace the segment GC gives snapshot
        # readers; the next commit sweeps them.
        if prev is not None:
            for n in os.listdir(table):
                if n == MANIFEST or n.startswith(MANIFEST + "."):
                    continue
                if n.startswith("v") and n[1:].isdigit():
                    continue
                p = os.path.join(table, n)
                try:
                    shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
                except OSError:
                    pass
        return new_v


def commit_versioned(
    df: DataFrame,
    table: str,
    txn: tuple[str, int] | None = None,
    stats_cols: list[str] | None = None,
    expect_version: int | None = None,
    meta: dict | None = None,
) -> int:
    """Write ``df`` as the next full snapshot (replacing all previous
    segments) and atomically publish it. Returns the version number.
    ``stats_cols`` records a footer-harvested min/max zone map for the
    segment in the manifest (see :func:`read_range`). Rewrites whose
    content was DERIVED from a read of the table (compaction) must pass
    ``expect_version`` (the version they read) so a concurrent append
    raises :class:`CommitConflict` instead of being silently folded
    away."""
    return _commit(
        df, table, append=False, txn=txn, stats_cols=stats_cols,
        expect_version=expect_version, meta=meta,
    )


def commit_append(
    df: DataFrame,
    table: str,
    txn: tuple[str, int] | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """Append-log commit: publish ``df`` as a NEW segment extending the
    live segment list — O(batch) work regardless of table size, the
    shape an incremental index needs. Readers see prior segments ∪ the
    new one; compaction (:func:`compact_versioned`) folds the log back
    into one segment when small files accumulate. Pass
    ``txn=(app_id, epoch)`` from foreachBatch for exactly-once appends."""
    return _commit(df, table, append=True, txn=txn, stats_cols=stats_cols)


def delete_rows(
    spark: SparkSession,
    table: str,
    predicate,
    schema=None,
    stats_cols: list[str] | None = None,
) -> tuple[int, int]:
    """Corpus-side right-to-be-forgotten: rewrite the live snapshot
    WITHOUT the rows matching ``predicate`` (a Column or SQL string)
    as one atomic commit — the document-table complement of the
    vector-index tombstone path. Readers of the old snapshot are
    undisturbed (immutable files); history vacuuming
    (:func:`vacuum_history`) is what makes the deletion physical
    everywhere, and must be run for compliance deletes. Pinned to the
    version it read: a concurrent append raises
    :class:`CommitConflict` instead of being silently folded away.
    Returns (rows_deleted, new_version)."""
    from pyspark.sql import functions as _F

    cond = _F.expr(predicate) if isinstance(predicate, str) else predicate
    v = current_version(table)
    cur = read_versioned(spark, table, version=v, schema=schema).localCheckpoint()
    keep = cur.filter(~cond).localCheckpoint()
    removed = cur.count() - keep.count()
    new_v = commit_versioned(
        keep, table, stats_cols=stats_cols, expect_version=v
    )
    return removed, new_v


def compact_versioned(
    spark: SparkSession, table: str, num_files: int = 1, schema=None
) -> int:
    """O3-style maintenance: rewrite the live snapshot into ``num_files``
    files as a new commit — readers of the old snapshot are undisturbed
    (its files are immutable), and the swap is the manifest publish.
    Pinned to the version it read: a segment appended between the read
    and the rewrite raises :class:`CommitConflict` (retry or skip)
    instead of being dropped from the folded snapshot."""
    v = current_version(table)
    cur = read_versioned(spark, table, version=v, schema=schema)
    return commit_versioned(cur.coalesce(num_files), table, expect_version=v)


def maybe_compact(
    spark: SparkSession,
    table: str,
    max_segments: int = 16,
    num_files: int = 1,
    schema=None,
) -> int | None:
    """Auto-compaction policy for append-log tables: fold the segment
    list back into one snapshot once it exceeds ``max_segments`` — the
    OPTIMIZE-on-threshold idiom a streaming sink calls after each
    epoch so small files never accumulate unboundedly, while the
    common case (under threshold) costs one manifest read and no Spark
    job. A concurrent append racing the fold is NOT an error here: the
    :class:`CommitConflict` is swallowed and compaction simply re-arms
    on the next call (the appended segment is intact either way).
    Returns the new version, or None when nothing was done."""
    m = _read_manifest(table)
    if m is None or len(m.get("segments", [])) <= max_segments:
        return None
    try:
        return compact_versioned(spark, table, num_files, schema)
    except CommitConflict:
        return None


def manifest_doc(table: str) -> dict | None:
    """One atomic read of the current manifest document — version,
    segment list, and commit ``meta`` all from the SAME snapshot (or
    None for a missing/legacy table). Callers that pair
    :func:`read_versioned` with :func:`table_meta` /
    :func:`current_version` as separate reads can be torn by a commit
    landing between them; derive everything from this one document and
    pin the data read with ``read_versioned(version=doc["version"])``
    instead."""
    m = _read_manifest(table)
    return None if m is None else dict(m)


def _manifest_at(table: str, version: int | None) -> dict | None:
    if version is None:
        return _read_manifest(table)
    try:
        with open(_manifest_path(table) + f".v{version:08d}") as fh:
            m = json.load(fh)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"no manifest history for version {version} of {table}"
        ) from None
    m.setdefault("segments", [f"v{int(m['version']):08d}"])
    return m


def snapshot_diff(
    spark: SparkSession,
    table: str,
    v_old: int,
    v_new: int | None = None,
) -> DataFrame:
    """CDC-style change feed between two commits of a manifest table:
    rows tagged ``change = 'insert' | 'delete'`` (bag semantics — a row
    present twice in new and once in old yields one insert).

    Fast path: when the old snapshot's segment list is a PREFIX of the
    new one (the append-log case — every commit_append preserves prior
    segments), the inserts are exactly the new segments and deletes are
    empty, so the diff reads O(delta) bytes and shuffles NOTHING.
    Otherwise (rewrites, compactions) it falls back to a two-sided
    ``exceptAll``, which shuffles both snapshots once on the full row —
    the honest cost of diffing arbitrary rewrites."""
    from pyspark.sql import functions as F

    m_old = _manifest_at(table, v_old)
    m_new = _manifest_at(table, v_new)
    if m_old is None or m_new is None:
        raise FileNotFoundError(f"no manifest for {table}")
    segs_old, segs_new = m_old["segments"], m_new["segments"]
    if segs_new[: len(segs_old)] == segs_old:
        delta = segs_new[len(segs_old):]
        if not delta:
            base = read_versioned(spark, table, version=v_old)
            return base.limit(0).withColumn("change", F.lit("insert"))
        paths = [os.path.join(table, seg) for seg in delta]
        return spark.read.parquet(*paths).withColumn("change", F.lit("insert"))
    old = read_versioned(spark, table, version=v_old)
    new = read_versioned(spark, table, version=v_new)
    return (
        new.exceptAll(old).withColumn("change", F.lit("insert"))
        .unionByName(old.exceptAll(new).withColumn("change", F.lit("delete")))
    )


def prune_segments(
    table: str,
    col: str,
    lo: float | int | None,
    hi: float | int | None,
    version: int | None = None,
) -> tuple[list[str], int]:
    """Segments whose recorded [min, max] for ``col`` overlaps
    [lo, hi] (None = unbounded). Segments with no recorded stats are
    kept — pruning is an optimization, never a correctness filter.
    Returns (kept_segments, total_segments)."""
    m = _manifest_at(table, version)
    if m is None:
        raise FileNotFoundError(f"no manifest for {table}")
    stats = m.get("stats", {})
    keep = []
    for seg in m["segments"]:
        s = stats.get(seg, {}).get(col)
        if s is None:
            keep.append(seg)
            continue
        if (hi is not None and s[0] > hi) or (lo is not None and s[1] < lo):
            continue
        keep.append(seg)
    return keep, len(m["segments"])


def read_range(
    spark: SparkSession,
    table: str,
    col: str,
    lo: float | int | None = None,
    hi: float | int | None = None,
    version: int | None = None,
    schema=None,
    merge_schema: bool = False,
) -> DataFrame:
    """Range-filtered scan with SEGMENT-level data skipping: the
    manifest zone map (``stats_cols`` at commit time) drops whole
    segments before Spark ever lists their files; the residual range
    predicate then pushes down into the surviving parquet scans for
    row-group pruning — two skipping levels from one commit-time
    footer harvest. Semantically identical to reading everything and
    filtering (asserted in tests/test_manifest.py).

    ``schema`` / ``merge_schema`` have the read_versioned semantics: an
    evolved append-log (columns added by later appends) needs one of
    them, because a bare multi-segment read infers the schema from ONE
    footer — the residual ``col`` filter then fails to resolve (or the
    evolved columns silently vanish) if an old footer wins."""
    from pyspark.sql import functions as F

    keep, _total = prune_segments(table, col, lo, hi, version)
    if not keep:
        return read_versioned(
            spark, table, version=version, schema=schema,
            merge_schema=merge_schema,
        ).limit(0)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    df = reader.parquet(*[os.path.join(table, seg) for seg in keep])
    if lo is not None:
        df = df.filter(F.col(col) >= lo)
    if hi is not None:
        df = df.filter(F.col(col) <= hi)
    return df


def vacuum_history(table: str, keep_last: int = 10) -> int:
    """Bound the time-travel history: delete all but the newest
    ``keep_last`` immutable ``_MANIFEST.vN`` copies (the files are tiny
    but unbounded over an append-log's life). Segment GC is untouched —
    it already retains only the live + previous commit — so this only
    limits how far back :func:`read_versioned` can resolve. Returns
    the number of copies removed."""
    try:
        names = os.listdir(table)
    except FileNotFoundError:
        return 0
    prefix = MANIFEST + ".v"
    versions = sorted(
        int(n[len(prefix):]) for n in names
        if n.startswith(prefix) and n[len(prefix):].isdigit()
    )
    removed = 0
    for v in versions[:-keep_last] if keep_last > 0 else versions:
        try:
            os.remove(os.path.join(table, f"{prefix}{v:08d}"))
            removed += 1
        except OSError:
            pass
    return removed
