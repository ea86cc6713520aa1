"""Command-line surface mirroring the reference's four entry points.

| reference script | subcommand | notes |
|---|---|---|
| ``parquet_details.py --symbol S`` | ``details`` | head/tail/schema; top-N files by mtime when no symbol given (parquet_details.py:15-38) |
| ``compare_parquet.py --symbol S`` | ``compare`` | schema diff + the row-level data diff the reference left as a TODO (compare_parquet.py:101-102) |
| ``download_historical_price.py`` | ``ingest`` | sorted symbol universe → ``daily_bars`` read (one partition per 10-symbol request batch) → normalize → (source, day)-partitioned prices write that ``live`` upserts into (§3.1); needs the provider's SDK, else exits 2 with the FetcherUnavailable message |
| ``update_live_price.py`` | ``live`` | one Structured Streaming query (§3.2) over ticks from a parquet drop directory (``--ticks-dir``): each micro-batch is validated, deduplicated and upserted into ``--output``; ``--bars`` also folds the same batch into the incremental daily-OHLC table (needs ``--checkpoint``); needs no SDK |

Run as ``python -m asset_prices_parquet_saver_spark <subcommand>``.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import functions as F

from asset_prices_parquet_saver_spark.session import get_spark


def _cmd_details(args) -> int:
    from asset_prices_parquet_saver_spark.operators import details
    from asset_prices_parquet_saver_spark.sources.tables import read_dataset

    spark = get_spark(app_name="details")
    df = read_dataset(spark, args.path)
    if args.symbol:
        df = df.filter(F.col("symbol") == args.symbol.upper())
    df.printSchema()
    out = details.head_tail(df, [F.col(c) for c in args.order_by.split(",")], args.num_rows)
    out.show(2 * args.num_rows, truncate=False)
    if not args.symbol:
        print("most recently modified files:")
        details.latest_files(spark, args.path, args.num_files).show(truncate=False)
    return 0


def _cmd_compare(args) -> int:
    from asset_prices_parquet_saver_spark.operators import compare
    from asset_prices_parquet_saver_spark.sources.tables import read_dataset

    spark = get_spark(app_name="compare")
    left = read_dataset(spark, args.left)
    right = read_dataset(spark, args.right)
    sdiff = compare.schema_diff(left, right)
    print("schema diff:", sdiff)
    keys = args.keys.split(",")
    ddiff = compare.data_diff(left, right, keys)
    n = ddiff.count()
    print(f"data diff rows: {n}")
    ddiff.show(args.num_rows, truncate=False)
    return 0 if (n == 0 and not any(sdiff.values())) else 1


def _cmd_ingest(args) -> int:
    from asset_prices_parquet_saver_spark.operators.normalize import normalize_bars
    from asset_prices_parquet_saver_spark.operators.symbols import union_universe
    from asset_prices_parquet_saver_spark.sources import bars_datasource
    from asset_prices_parquet_saver_spark.sources.prices_daily import write_prices_daily

    spark = get_spark(app_name="ingest")
    symbols = spark.createDataFrame(
        [(s,) for s in args.symbols.split(",")], "symbol string"
    )
    universe = union_universe(symbols)
    if getattr(args, "categories", None):
        # --categories narrows the universe to the selected market-cap
        # buckets (download_historical_price.py:223-243); caps come from
        # a (symbol, market_cap) parquet instead of the reference's
        # machine-local fundamental-data module.
        from asset_prices_parquet_saver_spark.operators.symbols import (
            universe_by_categories,
        )

        if not args.market_caps:
            print("error: --categories requires --market-caps", file=sys.stderr)
            return 2
        caps = spark.read.parquet(args.market_caps)
        allowed = universe_by_categories(caps, args.categories)
        universe = universe.join(F.broadcast(allowed), "symbol", "left_semi")
    # the reference fetches sorted(set(symbols))
    # (download_historical_price.py:253); each daily_bars partition is
    # one request batch of that list
    symbols = sorted(r.symbol for r in universe.collect())
    if not symbols:
        # an empty universe must not overwrite the output with nothing
        print("error: the symbol universe is empty", file=sys.stderr)
        return 2
    try:
        raw = bars_datasource.read_daily_bars(spark, symbols, args.source)
    except bars_datasource.FetcherUnavailable as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 2
    write_prices_daily(normalize_bars(raw, args.source), args.output)
    return 0


def _cmd_live(args) -> int:
    from asset_prices_parquet_saver_spark.schema import LIVE_TRADE_SCHEMA
    from asset_prices_parquet_saver_spark.streaming.live import run_live_upsert

    if not args.output:
        print("error: live needs --output", file=sys.stderr)
        return 2
    if args.bars and not args.checkpoint:
        # without a checkpoint every run restarts its epochs at 0, and
        # the bars log's ("ohlc", epoch) txn records would skip each new
        # batch up to the previous run's last epoch as already applied
        print("error: live --bars needs --checkpoint", file=sys.stderr)
        return 2
    spark = get_spark(app_name="live")
    # tick stream: a parquet drop directory stands in for the REST
    # poller when no SDK is available (same micro-batch semantics)
    ticks = (
        spark.readStream.schema(LIVE_TRADE_SCHEMA).parquet(args.ticks_dir)
    )
    on_batch = None
    if args.bars:
        from asset_prices_parquet_saver_spark.functions.portable_hash import (
            md5_int60,
        )
        from asset_prices_parquet_saver_spark.operators.incremental_agg import (
            refresh_ohlc,
        )

        # deterministic tick id (content hash): same-timestamp ticks
        # tie-break identically on any replay or batch split
        tick_id = md5_int60(
            F.concat_ws(
                "|",
                F.col("symbol"),
                F.col("ts").cast("string"),
                F.col("price").cast("string"),
            )
        )
        ticks = ticks.withColumn("event_id", tick_id)

        # folds the batch the prices merge accepted (validated and
        # deduplicated), so bars count exactly the upserted ticks
        def on_batch(batch, epoch_id: int) -> None:
            refresh_ohlc(batch, args.bars, txn=("ohlc", epoch_id))

    query = run_live_upsert(
        spark,
        ticks,
        args.output,
        trigger_seconds=args.interval,
        checkpoint_dir=args.checkpoint,
        on_batch=on_batch,
    )
    query.awaitTermination()
    return 0


def _cmd_dedup(args) -> int:
    """Incremental corpus dedup (X2 extension surface): dedupe a batch
    of documents against the persistent signature index and append the
    survivors to the output corpus, then their signatures to the index
    — both manifest append-log commits, through the same per-batch
    step as every streaming micro-batch
    (:func:`~asset_prices_parquet_saver_spark.operators.
    incremental_dedup.run_incremental_dedup`)."""
    from asset_prices_parquet_saver_spark.operators import incremental_dedup as inc

    spark = get_spark(app_name="dedup")
    docs = spark.read.parquet(args.docs)
    n_in = docs.count()
    # Crash recovery = re-run the command, made SAFE by a txn id on
    # both commits: without it, a re-run after a crash between the two
    # commits would recompute the identical survivors (the index still
    # lacks this batch) and append them to the corpus a SECOND time.
    # The txn identity is CONTENT-addressed (batch_txn: an
    # order-independent fingerprint of the batch's id+text rows), so
    # BOTH replay scenarios no-op — a re-run inside the crash window
    # (corpus landed, index didn't: the corpus append skips, the index
    # append executes) AND a re-run of the same batch after full
    # success (both skip; an index-version epoch would have advanced
    # and re-appended here). params fold into the txn id: the SAME
    # batch re-run with a corrected --threshold computes different
    # survivors and must not no-op against the prior run's txn record
    txn = inc.batch_txn(
        docs, args.id_col, args.text_col, params=(args.threshold,)
    )
    # always print the content-addressed txn id: a replayed (or hash-
    # colliding) batch makes both commits silently no-op, so the skip
    # must at least be observable/grep-able against the manifest txn map
    print(f"txn {txn[0]} epoch {txn[1]}")
    survivors = inc.run_incremental_dedup(
        spark,
        docs,
        args.index,
        args.output,
        id_col=args.id_col,
        text_col=args.text_col,
        threshold=args.threshold,
        corpus_txn=txn,
        index_txn=txn,
    )
    n_out = survivors.count()
    print(f"accepted {n_out}/{n_in} documents ({n_in - n_out} near-duplicates dropped)")
    return 0


def _cmd_curate(args) -> int:
    """End-to-end corpus curation (the §2.11 pipeline composed):
    learned quality filter → PII scrub → fuzzy dedup → deterministic
    split assignment → partitioned parquet write, with a per-stage
    attrition report. Every stage is an oracle-checked operator; the
    composition is what a training-data run actually executes."""
    from asset_prices_parquet_saver_spark.operators import dedup as dedup_ops
    from asset_prices_parquet_saver_spark.operators import text as text_ops
    from asset_prices_parquet_saver_spark.operators.sampling import assign_split

    spark = get_spark(app_name="curate")
    docs = spark.read.parquet(args.docs)
    n_in = docs.count()

    scored = text_ops.quality_classifier(docs, args.id_col, args.text_col)
    docs = docs.join(
        scored.filter("keep").select(args.id_col), args.id_col, "left_semi"
    )
    n_quality = docs.count()

    docs = docs.withColumn(
        args.text_col, text_ops.redact_pii(F.col(args.text_col))
    )

    docs = dedup_ops.fuzzy_dedup(
        docs, args.id_col, args.text_col, threshold=args.threshold
    ).localCheckpoint()  # the count and the write read one dedup pass
    n_dedup = docs.count()

    n_scrubbed = 0
    if args.substring_scrub:
        # excise verbatim cross-document runs from the survivors (the
        # Lee et al. pass fuzzy dedup doesn't cover: a snippet repeated
        # inside otherwise-distinct documents)
        spans = dedup_ops.duplicated_spans(
            docs, args.id_col, args.text_col, k=args.substring_k
        )
        # checkpoint before counting so the final parquet write reuses
        # the materialized excision instead of recomputing the span
        # aggregate + Arrow rebuild kernel (same discipline as the
        # post-fuzzy-dedup checkpoint on docs above)
        clean = dedup_ops.excise_spans(
            docs, args.id_col, args.text_col, spans
        ).localCheckpoint()
        n_scrubbed = clean.count()
        docs = (
            docs.join(
                clean.select(
                    F.col("id").alias(args.id_col), "clean_text"
                ),
                args.id_col,
                "left",
            )
            .withColumn(
                args.text_col,
                F.coalesce("clean_text", F.col(args.text_col)),
            )
            .drop("clean_text")
        )

    splits = []
    for part in args.splits.split(","):
        label, frac = part.split(":")
        splits.append((label, float(frac)))
    docs = docs.withColumn("split", assign_split(F.col(args.id_col), splits))

    docs.write.mode("overwrite").partitionBy("split").parquet(args.output)
    scrub_note = (
        f" ({n_scrubbed} docs substring-scrubbed)" if args.substring_scrub else ""
    )
    print(
        f"curated {n_in} -> {n_quality} (quality) -> {n_dedup} (dedup)"
        f"{scrub_note}; wrote {args.output} partitioned by split"
    )
    return 0


def _cmd_report(args) -> int:
    """Table health report: per-column profile (nulls, exact distinct,
    min/max), a fixed-bound histogram of one measure, and the
    row-level data-quality predicate suite — the read-side audit a
    saved dataset gets before anything trains or trades on it."""
    from asset_prices_parquet_saver_spark.operators import analytics as an_ops

    from asset_prices_parquet_saver_spark.sources.tables import read_dataset

    spark = get_spark(app_name="report")
    df = read_dataset(spark, args.path)
    cols = args.columns.split(",") if args.columns else [
        f.name for f in df.schema.fields if f.dataType.typeName() in ("double", "long", "integer", "float")
    ][:4]
    print("column profile:")
    an_ops.profile_columns(df, cols).show(truncate=False)
    if args.histogram:
        col, lo, width, n = args.histogram.split(":")
        print(f"histogram of {col}:")
        an_ops.fixed_histogram(df, col, float(lo), float(width), int(n)).orderBy(
            "bucket"
        ).show(int(n), truncate=False)
    checks = {}
    for c in cols:
        checks[f"{c}_not_null"] = F.col(c).isNotNull()
    print("data-quality checks:")
    rep = an_ops.dq_predicate_checks(df, checks)
    rep.show(truncate=False)
    bad = rep.filter(~F.col("passed")).count()
    return 0 if bad == 0 else 1


def _cmd_scd2(args) -> int:
    """Maintain a type-2 slowly-changing dimension from a parquet
    changelog: batch mode merges the changelog into the
    manifest-committed dimension once (idempotent for replays);
    --stream watches the directory and applies each micro-batch as an
    atomic snapshot commit."""
    from asset_prices_parquet_saver_spark.operators.scd import scd2_apply
    from asset_prices_parquet_saver_spark.sources import manifest
    from asset_prices_parquet_saver_spark.streaming.dimensions import (
        _dim_schema,
        run_streaming_scd2,
    )

    spark = get_spark(app_name="scd2")
    attrs = args.attrs.split(",")
    if args.stream:
        changes = (
            spark.readStream.schema(
                spark.read.parquet(args.changes).schema
            ).parquet(args.changes)
        )
        q = run_streaming_scd2(
            spark, changes, args.dim, args.key, args.ts, attrs,
            args.tiebreak, checkpoint_dir=args.checkpoint,
            available_now=args.available_now,
        )
        q.awaitTermination()
        return 0
    changes = spark.read.parquet(args.changes)
    schema = _dim_schema(changes, args.key, args.ts, attrs, args.tiebreak)
    dim = manifest.read_versioned(spark, args.dim, schema=schema)
    new_dim = scd2_apply(dim, changes, args.key, args.ts, attrs, args.tiebreak)
    version = manifest.commit_versioned(new_dim, args.dim)
    cur = manifest.read_versioned(spark, args.dim, schema=schema)
    n_keys = cur.select(args.key).distinct().count()
    print(f"dimension at version {version}: {cur.count()} version rows, "
          f"{n_keys} keys")
    return 0


def _cmd_mv(args) -> int:
    """Materialized-view lifecycle: create from a base manifest table,
    refresh (incremental on appends, full on rewrites — the mode is
    printed so operators can see which path ran), read, or roll up to
    a coarser grain. The agg spec is the matview JSON list, e.g.
    '[["n","count",null],["total","sum","value"]]'."""
    import json as _json

    from asset_prices_parquet_saver_spark.sources import matview as mv_ops

    spark = get_spark(app_name="mv")
    if args.action == "create":
        if not args.base or not args.group_cols or not args.aggs:
            print("mv create requires --base --group-cols --aggs",
                  file=sys.stderr)
            return 2
        try:
            aggs = _json.loads(args.aggs)
        except ValueError as e:
            print(f"mv create: --aggs is not valid JSON ({e}); expected "
                  'e.g. \'[["n","count",null],["total","sum","value"]]\'',
                  file=sys.stderr)
            return 2
        # valid JSON is not enough: a dict or scalar (or a list of
        # scalars) would surface as an opaque TypeError deep inside
        # create_mv — keep the friendly rc=2 contract for shape too
        if not (
            isinstance(aggs, list)
            and aggs
            and all(isinstance(a, list) and len(a) >= 3 for a in aggs)
        ):
            print('mv create: --aggs must be a JSON list of '
                  '[out_col, kind, in_col(, params)] entries; expected '
                  'e.g. \'[["n","count",null],["total","sum","value"]]\'',
                  file=sys.stderr)
            return 2
        v = mv_ops.create_mv(
            spark,
            args.view,
            args.base,
            args.group_cols.split(","),
            aggs,
            projection=args.projection.split(";") if args.projection else None,
        )
        print(f"created {args.view} at version {v}")
    elif args.action == "refresh":
        mode = mv_ops.refresh_mv(spark, args.view)
        print(f"refreshed {args.view}: {mode}")
    elif args.action == "read":
        mv_ops.read_mv(spark, args.view).show(args.limit, truncate=False)
    elif args.action == "probe":
        if not args.agg or not args.probes or not args.col:
            print("mv probe requires --agg --probes --col",
                  file=sys.stderr)
            return 2
        try:
            res = mv_ops.bloom_probe_mv(
                spark,
                args.view,
                spark.read.parquet(args.probes),
                args.agg,
                args.col,
            )
        except ValueError as e:
            print(f"mv probe: {e}", file=sys.stderr)
            return 2
        res.show(args.limit, truncate=False)
    else:  # rollup
        if not args.group_cols:
            print("mv rollup requires --group-cols", file=sys.stderr)
            return 2
        mv_ops.rollup_mv(
            spark, args.view, args.group_cols.split(",")
        ).show(args.limit, truncate=False)
    return 0


def _cmd_explain(args) -> int:
    """Print the optimized/physical plan of a registry query — the
    audit loop SCALE.md is built on (PushedFilters / ReadSchema /
    WholeStageCodegen spans / join strategies), exposed as a command
    so a plan can be checked without writing a script."""
    from asset_prices_parquet_saver_spark.plans import QUERIES

    if args.query not in QUERIES:
        print(f"unknown query {args.query!r}; see QUERIES.md",
              file=sys.stderr)
        return 2
    spark = get_spark(app_name="explain")
    df = QUERIES[args.query](spark, args.sf_dir)
    print(df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            args.mode
        )
    ))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="asset-prices-parquet-saver-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    d = sub.add_parser("details", help="head/tail/schema of a prices dataset")
    d.add_argument("--path", required=True)
    d.add_argument("--symbol")
    d.add_argument("--order-by", default="timestamp")
    d.add_argument("--num-rows", type=int, default=5)
    d.add_argument("--num-files", type=int, default=5)
    d.set_defaults(fn=_cmd_details)

    c = sub.add_parser("compare", help="schema + data diff of two datasets")
    c.add_argument("--left", required=True)
    c.add_argument("--right", required=True)
    c.add_argument("--keys", default="symbol,timestamp")
    c.add_argument("--num-rows", type=int, default=20)
    c.set_defaults(fn=_cmd_compare)

    i = sub.add_parser("ingest", help="bulk historical ingest")
    i.add_argument("--source", choices=["alpaca", "yfinance"], required=True)
    i.add_argument("--symbols", required=True, help="comma-separated")
    i.add_argument("--output", required=True)
    i.add_argument(
        "--categories",
        nargs="+",
        # argparse-enforced: an unvalidated typo ('lrge') would filter
        # the universe to NOTHING and overwrite the output dataset with
        # an empty one, exit code 0.
        choices=["mega", "large", "mid", "small", "micro", "nano", "all"],
        help="market-cap buckets (mega/large/mid/small/micro/nano or 'all')",
    )
    i.add_argument(
        "--market-caps",
        help="parquet with (symbol, market_cap) used to resolve --categories",
    )
    i.set_defaults(fn=_cmd_ingest)

    lv = sub.add_parser("live", help="streaming live-price upsert")
    lv.add_argument("--ticks-dir", required=True)
    lv.add_argument("--output", help="prices table to upsert into (required)")
    lv.add_argument(
        "--bars",
        help="also fold each upserted batch into the incremental daily-OHLC table at this path",
    )
    lv.add_argument("--interval", type=int, default=60)
    lv.add_argument("--checkpoint")
    lv.set_defaults(fn=_cmd_live)

    dd = sub.add_parser("dedup", help="incremental corpus dedup vs a signature index")
    dd.add_argument("--docs", required=True, help="parquet of incoming documents")
    dd.add_argument("--index", required=True, help="signature-index table dir")
    dd.add_argument("--output", required=True, help="deduplicated corpus table dir")
    dd.add_argument("--id-col", default="doc_id")
    dd.add_argument("--text-col", default="text")
    dd.add_argument("--threshold", type=float, default=0.5)
    dd.set_defaults(fn=_cmd_dedup)

    cu = sub.add_parser("curate", help="end-to-end corpus curation pipeline")
    cu.add_argument("--docs", required=True, help="parquet of raw documents")
    cu.add_argument("--output", required=True, help="curated corpus output dir")
    cu.add_argument("--id-col", default="doc_id")
    cu.add_argument("--text-col", default="text")
    cu.add_argument("--threshold", type=float, default=0.5)
    cu.add_argument(
        "--splits",
        default="train:0.8,val:0.1,test:0.1",
        help="comma-separated label:fraction list; last label absorbs the rest",
    )
    cu.add_argument(
        "--substring-scrub",
        action="store_true",
        help="also excise verbatim cross-document token runs (Lee et al.)",
    )
    cu.add_argument(
        "--substring-k",
        type=int,
        default=5,
        help="window size (tokens) for --substring-scrub",
    )
    cu.set_defaults(fn=_cmd_curate)

    ex = sub.add_parser("explain", help="print a registry query's plan")
    ex.add_argument("query")
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ex.add_argument(
        "--mode", default="formatted",
        choices=["simple", "extended", "formatted", "cost", "codegen"],
    )
    ex.set_defaults(fn=_cmd_explain)

    mvp = sub.add_parser("mv", help="materialized-view lifecycle")
    mvp.add_argument(
        "action", choices=["create", "refresh", "read", "rollup", "probe"]
    )
    mvp.add_argument("view", help="view manifest-table path")
    mvp.add_argument("--base", help="base manifest-table path (create)")
    mvp.add_argument("--group-cols", help="comma-separated group columns")
    mvp.add_argument("--aggs", help='JSON agg spec (create)')
    mvp.add_argument("--agg", help="bloom agg output name (probe)")
    mvp.add_argument(
        "--probes",
        help="parquet of probe rows: group columns + the probe column",
    )
    mvp.add_argument("--col", help="probe value column (probe)")
    mvp.add_argument(
        "--projection",
        help="semicolon-separated SQL select-exprs applied before grouping",
    )
    mvp.add_argument("--limit", type=int, default=20)
    mvp.set_defaults(fn=_cmd_mv)

    rp = sub.add_parser("report", help="column profile + histogram + DQ checks")
    rp.add_argument("path")
    rp.add_argument("--columns", default=None, help="comma list; default: first numeric cols")
    rp.add_argument(
        "--histogram",
        default=None,
        help="col:lo:width:n_buckets — fixed-bound histogram of one measure",
    )
    rp.set_defaults(fn=_cmd_report)

    sc = sub.add_parser("scd2", help="maintain a type-2 dimension from a changelog")
    sc.add_argument("--changes", required=True, help="parquet changelog directory")
    sc.add_argument("--dim", required=True, help="manifest dimension table dir")
    sc.add_argument("--key", required=True)
    sc.add_argument("--ts", default="ts")
    sc.add_argument("--attrs", required=True, help="comma-separated tracked columns")
    sc.add_argument("--tiebreak", required=True, help="unique observation id column")
    sc.add_argument("--stream", action="store_true")
    sc.add_argument("--available-now", action="store_true",
                    help="with --stream: drain the directory once, then stop")
    sc.add_argument("--checkpoint")
    sc.set_defaults(fn=_cmd_scd2)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
