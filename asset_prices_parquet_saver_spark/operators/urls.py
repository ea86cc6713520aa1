"""URL canonicalization + domain-level dedup — the CommonCrawl-style
curation step upstream of document dedup (a crawl sees the same page
as `http://WWW.Example.com:80/a/?utm_source=x` and
`https://example.com/a`): normalize scheme/host/port/path/query,
strip tracking parameters, and report per-domain crawl concentration.

Scale shape: every step is a chained JVM expression (regexp + array
HOFs) — no UDFs, no shuffle until the terminal groupBy on the
canonical key, which is map-side combinable. At 100 TB the canonical
key is exactly what you bucket/partition crawl stores by.
Reference analogue: none (X-family extension, SURVEY §2.11).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from asset_prices_parquet_saver_spark.sources import manifest

#: query parameters that identify a CLICK, not a resource — dropped
#: during canonicalization (the standard tracking-param scrub list).
TRACKING_PARAMS = (
    "utm_source", "utm_medium", "utm_campaign", "utm_term",
    "utm_content", "fbclid", "gclid", "msclkid", "ref", "mc_cid",
    "mc_eid",
)

#: second-level public suffixes the naive last-two-labels rule gets
#: wrong (a tiny, pinned stand-in for the Public Suffix List — the
#: full PSL would ship as a broadcast lookup table the same way).
_SECOND_LEVEL_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au",
    "org.au", "co.jp", "co.in", "com.br", "com.cn", "co.nz",
)


def canonical_url(url: Column) -> Column:
    """Canonical form of an http(s) URL, entirely in JVM expressions:

    - scheme and host lowercased; ``www.`` prefix and default ports
      (``:80`` http, ``:443`` https) stripped
    - fragment dropped
    - tracking query parameters (:data:`TRACKING_PARAMS`) dropped;
      surviving parameters SORTED so param order never splits a page
      into two keys; empty query drops its ``?``
    - trailing ``/`` stripped from the path (``/a/`` == ``/a``); a
      bare-host URL keeps no slash

    Non-URL strings (no scheme) pass through trimmed-and-lowercased —
    garbage in, stable garbage key out (never NULL, so a dedup
    groupBy cannot silently merge all malformed rows with real NULLs).
    """
    u = F.trim(url)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    rest = F.regexp_replace(rest, r"#.*$", "")  # fragment
    hostport = F.lower(F.regexp_extract(rest, r"^([^/?]*)", 1))
    host = F.regexp_replace(hostport, r":\d+$", "")
    host = F.regexp_replace(host, r"^www\.", "")
    port = F.regexp_extract(hostport, r":(\d+)$", 1)
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    path = F.regexp_extract(rest, r"^[^/?]*(/[^?]*)?", 1)
    path = F.regexp_replace(path, r"/+$", "")
    query = F.regexp_extract(rest, r"\?(.*)$", 1)
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "")
            & ~F.lower(F.regexp_extract(p, r"^([^=]*)", 1)).isin(
                *TRACKING_PARAMS
            ),
        )
    )
    canon_query = F.array_join(kept, "&")
    rebuilt = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(
            canon_query != "", F.concat(F.lit("?"), canon_query)
        ).otherwise(F.lit("")),
    )
    return F.when(scheme == "", F.lower(u)).otherwise(rebuilt)


def registered_domain(url: Column) -> Column:
    """Registered (pay-level) domain of a URL: the last two host
    labels, or the last THREE when the last two are a known
    second-level public suffix (``bbc.co.uk`` → ``bbc.co.uk``, not
    ``co.uk``). The per-domain key crawl-rate reports group by."""
    u = F.trim(url)
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    host = F.lower(F.regexp_extract(rest, r"^([^/?:#]*)", 1))
    host = F.regexp_replace(host, r"^www\.", "")
    labels = F.split(host, r"\.")
    n = F.size(labels)
    last2 = F.array_join(F.slice(labels, n - 1, 2), ".")
    last3 = F.array_join(F.slice(labels, n - 2, 3), ".")
    return F.when(n <= 2, host).otherwise(
        F.when(last2.isin(*_SECOND_LEVEL_SUFFIXES), last3).otherwise(last2)
    )


def url_dedup(
    df: DataFrame, url_col: str, tie_break: str
) -> DataFrame:
    """Keep exactly one row per CANONICAL URL — the crawl-level exact
    dedup run before any content dedup. Survivor = smallest
    ``tie_break``, full-row-hash tie-broken — delegates to
    :func:`~asset_prices_parquet_saver_spark.operators.dedup.
    exact_dedup` on the canonical key, inheriting its determinism and
    its one-combinable-aggregate scale shape."""
    from asset_prices_parquet_saver_spark.operators.dedup import exact_dedup

    canon = df.withColumn("_canon", canonical_url(F.col(url_col)))
    return exact_dedup(canon, ["_canon"], tie_break).drop("_canon")


def domain_report(df: DataFrame, url_col: str) -> DataFrame:
    """Per-registered-domain crawl concentration: total URLs, distinct
    canonical URLs, and the duplication rate (1 − distinct/total,
    rounded to 6 decimals) — the per-provider number a crawl-curation
    run reports (which domains are being re-crawled into the corpus).
    Two map-side-combinable aggregates on the domain key."""
    canon = df.select(
        registered_domain(F.col(url_col)).alias("domain"),
        canonical_url(F.col(url_col)).alias("canon"),
    )
    return (
        canon.groupBy("domain")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.countDistinct("canon").alias("n_canonical"),
        )
        .withColumn(
            "dup_rate",
            F.round(1 - F.col("n_canonical") / F.col("n_urls"), 6),
        )
    )


# ----------------------------------------------------- crawl frontier

#: persisted seen-set row: the canonical URL (join key) and the key of
#: the row that claimed it (audit trail, not used by the probe)
URL_INDEX_SCHEMA = "canon string, first_key long"


def _frontier_accept(
    spark, new_docs: DataFrame, seen_index: str, url_col: str, key_col: str
) -> DataFrame:
    """The frontier probe: canonicalize, keep each canonical URL's
    first row within the batch, probe the seen-set (a missing table
    reads as empty), and return the accepted rows, materialized, with
    their ``_canon`` column."""
    from asset_prices_parquet_saver_spark.operators.dedup import exact_dedup

    canon = new_docs.withColumn("_canon", canonical_url(F.col(url_col)))
    batch_first = exact_dedup(canon, ["_canon"], key_col).localCheckpoint()
    idx = manifest.read_versioned(spark, seen_index, schema=URL_INDEX_SCHEMA)
    # INNER join, not anti: Spark broadcasts only the right side of an
    # anti join, which here is the O(seen URLs) index; an inner join
    # lets the planner broadcast the smaller side, which is the
    # checkpointed batch once the seen-set outgrows it, so the index
    # scan streams through without an exchange. The anti semantics
    # come from the small hit-set's second join.
    hits = (
        batch_first.select("_canon")
        .join(idx, F.col("_canon") == F.col("canon"))
        .select("_canon")
        .distinct()
    )
    return batch_first.join(hits, "_canon", "left_anti").localCheckpoint()


def _seen_rows(accepted: DataFrame, key_col: str) -> DataFrame:
    """Seen-set rows (:data:`URL_INDEX_SCHEMA`) for accepted rows."""
    return accepted.select(
        F.col("_canon").alias("canon"),
        F.col(key_col).cast("long").alias("first_key"),
    )


def frontier_filter(
    spark,
    new_docs: DataFrame,
    seen_index: str,
    url_col: str,
    key_col: str,
    append: bool = True,
) -> DataFrame:
    """Crawl-frontier URL dedup: of a batch of candidate URLs, the
    rows whose CANONICAL URL is both new within the batch (smallest
    ``key_col`` claims it, full-row tie-broken — :func:`url_dedup`'s
    survivor rule) and absent from the seen-set at ``seen_index`` (a
    manifest append-log table). Appends the accepted canonicals as one
    ``manifest.commit_append`` (unless ``append=False`` — the streaming
    wrapper commits the corpus FIRST, then indexes what it committed)
    and returns the accepted rows with the batch's original columns.

    Scale shape: batch canonicalization is a narrow map; once the
    seen-set is the larger side, its probe (an inner join in
    :func:`_frontier_accept`) broadcasts the checkpointed batch and streams the index scan with
    no exchange over it (a seen-set smaller than the batch is the side
    broadcast instead). Per-batch cost is O(batch) plus one pass over
    the index files; a batch too large to broadcast makes the join
    shuffle the index (SCALE.md). Replays are
    harmless for results: a replayed batch's canonicals are already
    indexed, so it accepts nothing new."""
    accepted = _frontier_accept(spark, new_docs, seen_index, url_col, key_col)
    if append:
        manifest.commit_append(_seen_rows(accepted, key_col), seen_index)
    return accepted.drop("_canon")


def run_streaming_frontier(
    spark,
    docs_stream: DataFrame,
    seen_index: str,
    corpus_path: str,
    url_col: str = "url",
    key_col: str = "doc_id",
    checkpoint_dir: str | None = None,
    available_now: bool = False,
):
    """Streaming crawl ingestion with online frontier dedup: every
    micro-batch keeps only first-seen canonical URLs (vs everything
    ever accepted) and appends them to the corpus; the seen-set indexes
    exactly what was committed. Both commits carry the foreachBatch
    epoch in their txn record (``("url-frontier-corpus", epoch)``, then
    ``("url-frontier-index", epoch)``), so a replayed epoch skips every
    commit that already landed. Corpus commit goes FIRST (the
    streaming-dedup crash discipline): a crash between the two commits
    replays the batch, accepts the same rows (their canonicals are
    still absent from the index), skips the corpus append and applies
    the missing index append — no epoch loses or duplicates
    documents. Each epoch adds one seen-set segment; after the index
    append ``manifest.maybe_compact`` folds them into one once they
    pass its threshold, so probes read a bounded number of segments."""
    if not checkpoint_dir:
        # the txn records are keyed by epoch: without a checkpoint a new
        # run restarts at epoch 0 and its commits would be skipped
        raise ValueError("run_streaming_frontier needs checkpoint_dir")

    def handle(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        accepted = _frontier_accept(spark, batch, seen_index, url_col, key_col)
        manifest.commit_append(
            accepted.drop("_canon"), corpus_path,
            txn=("url-frontier-corpus", epoch_id),
        )
        manifest.commit_append(
            _seen_rows(accepted, key_col), seen_index,
            txn=("url-frontier-index", epoch_id),
        )
        # one segment per epoch: fold them before probes read many
        manifest.maybe_compact(spark, seen_index, schema=URL_INDEX_SCHEMA)

    writer = (
        docs_stream.writeStream.outputMode("append")
        .foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
