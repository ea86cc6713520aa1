"""Keep-latest merge / upsert operators (J4, A3, A4; SURVEY §2.3-2.4).

The reference's live upsert (update_live_price.py:250-274) works on one
symbol file at a time: if a bar for the trade's calendar date exists,
overwrite only ``adj_close`` in place (:254-258); else append a new row
whose other OHLCV columns are NaN (:259-274); result kept sorted (:283).

Spark-first re-expression: the whole upsert is one relational program —
reduce ticks to last-per-(symbol, day) with a window, then a full-outer
merge with ``coalesce`` per column. No per-file read-modify-write; at
cluster scale the shuffle is keyed on (symbol, day) and AQE handles skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from asset_prices_parquet_saver_spark.schema import BAR_VALUE_COLUMNS


def keep_latest(df: DataFrame, keys: list[str], order_by: list) -> DataFrame:
    """Deterministic keep-one-row-per-key: row_number()=1 over keys
    ordered by ``order_by`` (pass fully tie-broken ordering)."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def latest_ticks_per_day(ticks: DataFrame) -> DataFrame:
    """P7 validity filter + last tick per (symbol, calendar day).

    Mirrors update_live_price.py:160-168 (drop NULL price/ts) and the
    last-write-wins-per-date semantics of :250-258. The full tie-break
    (ts desc, price desc) makes the survivor deterministic even for
    ticks sharing a second-truncated timestamp — required for the
    exactly-once foreachBatch sink, whose replay after a task retry
    must reproduce the same adj_close.
    """
    valid = ticks.filter(F.col("price").isNotNull() & F.col("ts").isNotNull())
    valid = valid.withColumn("ts", F.date_trunc("second", F.col("ts")))
    valid = valid.withColumn("day", F.to_date("ts"))
    return keep_latest(
        valid, ["symbol", "day"], [F.col("ts").desc(), F.col("price").desc()]
    )


def upsert_live_prices(existing: DataFrame, latest: DataFrame) -> DataFrame:
    """Merge one source's reduced ticks into its bars (J4).

    ``existing`` holds the source's bars with at least (symbol, day,
    timestamp, value columns); ``latest`` is :func:`latest_ticks_per_day`
    output, or a projection of it keeping (symbol, day, price).

    Exactly the reference's semantics (update_live_price.py:250-274):
    existing (symbol, day) row → only adj_close replaced; new day →
    new row with all other value columns NULL and timestamp = the day
    (midnight UTC, matching the normalized index at :239-252). Returns
    (symbol, day, timestamp, value columns).
    """
    joined = existing.alias("p").join(latest.alias("t"), ["symbol", "day"], "full_outer")
    return joined.select(
        F.col("symbol"),
        F.col("day"),
        F.coalesce(F.col("p.timestamp"), F.col("day").cast("timestamp")).alias(
            "timestamp"
        ),
        *[
            (
                F.coalesce(F.col("t.price"), F.col(f"p.{c}")).alias(c)
                if c == "adj_close"
                else F.col(f"p.{c}").alias(c)
            )
            for c in BAR_VALUE_COLUMNS
        ],
    )


def last_price_per_symbol(prices: DataFrame) -> DataFrame:
    """A3/J5: the reference's in-memory ``current_prices`` snapshot
    (update_live_price.py:69, :164) as a keyed aggregation."""
    latest = keep_latest(
        prices.filter(F.col("adj_close").isNotNull()),
        ["symbol"],
        [F.col("timestamp").desc(), F.col("source").asc()],
    )
    return latest.select("symbol", F.col("adj_close").alias("price"), "timestamp")


def merge_into(
    target: DataFrame,
    source: DataFrame,
    on: list[str],
    *,
    matched_update: dict | None = None,
    matched_update_condition=None,
    matched_delete_condition=None,
    not_matched_insert: dict | bool | None = True,
    not_matched_insert_condition=None,
    not_matched_by_source_delete_condition=None,
    verify_unique_source: bool = False,
) -> DataFrame:
    """Generalized three-clause MERGE INTO (J4 generalization; the
    Delta-Lake / ANSI SQL:2003 MERGE surface the reference's upsert loop
    (update_live_price.py:250-274) is a special case of).

    Clause semantics (fixed precedence, matching Delta's
    delete-before-update evaluation when both conditions hold):

    - matched + ``matched_delete_condition`` true        -> row dropped
    - matched + ``matched_update_condition`` true (or
      unconditioned)                                     -> ``matched_update``
      columns replaced, all others kept from the target
    - source-only + ``not_matched_insert`` enabled and
      ``not_matched_insert_condition`` true              -> row inserted
      (``True`` inserts source columns by name, NULL-padding target
      columns the source lacks; a dict gives explicit per-column exprs)
    - target-only + ``not_matched_by_source_delete_condition`` true
                                                         -> row dropped
    - anything else                                      -> target row kept

    Expressions in conditions / update / insert dicts reference the two
    sides through the aliases ``t`` (target) and ``s`` (source), e.g.
    ``F.col("s.price") > F.col("t.price")``.

    Scale notes: the whole merge is ONE relational program — a single
    join on the merge keys (null-safe), shuffled once; AQE skew-join
    covers hot keys. The join type is chosen from the clauses actually
    used: with inserts disabled the plan degrades to a LEFT join (which
    Catalyst may broadcast for a small source); a full outer is used
    only when source-only rows must survive. No per-row driver loop, no
    collect.

    Determinism contract (same as Delta): each target row must match at
    most one source row, or the result is ambiguous.
    ``verify_unique_source=True`` adds a one-aggregate assertion over
    the source keys (an extra pass — opt-in, off in production jobs
    that already guarantee key uniqueness upstream).
    """
    if not on:
        raise ValueError(
            "merge_into: empty merge-key list would cross-join"
        )
    if matched_update:
        unknown = [c for c in matched_update if c not in target.columns]
        if unknown:
            raise ValueError(
                f"merge_into: matched_update keys {unknown} are not "
                "target columns"
            )
    if isinstance(not_matched_insert, dict):
        unknown = [
            c for c in not_matched_insert if c not in target.columns
        ]
        if unknown:
            raise ValueError(
                f"merge_into: not_matched_insert keys {unknown} are not "
                "target columns"
            )
    if verify_unique_source:
        dup = (
            source.groupBy(*on)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                "merge_into: source has duplicate rows on merge keys "
                f"{on}; each target row must match at most one source row"
            )

    out_cols = target.columns
    src_cols = set(source.columns)
    need_insert = bool(not_matched_insert)
    t = target.withColumn("__t_present", F.lit(True)).alias("t")
    s = source.withColumn("__s_present", F.lit(True)).alias("s")
    how = "full_outer" if need_insert else "left_outer"
    cond = None
    for k in on:
        c = F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
        cond = c if cond is None else (cond & c)
    j = t.join(s, cond, how)

    matched = F.col("t.__t_present").isNotNull() & F.col(
        "s.__s_present"
    ).isNotNull()
    target_only = F.col("t.__t_present").isNotNull() & F.col(
        "s.__s_present"
    ).isNull()
    source_only = F.col("t.__t_present").isNull()

    upd_cond = matched
    if matched_update_condition is not None:
        upd_cond = upd_cond & matched_update_condition
    if matched_update is None:
        upd_cond = F.lit(False)

    # SQL/Delta MERGE treats an unsatisfied (NULL) clause condition as
    # "not satisfied" — the row is KEPT. The update/insert paths get
    # that for free (F.when(NULL) falls through to otherwise; a NULL
    # insert condition fails the keep-filter, meaning no insert), but
    # a deletion predicate must be coalesced to false BEFORE negation:
    # without it `~NULL` is NULL and filter() silently deleted rows
    # whose condition evaluated NULL (e.g. compared a NULL column).
    drop = F.lit(False)
    if matched_delete_condition is not None:
        drop = drop | F.coalesce(
            matched & matched_delete_condition, F.lit(False)
        )
    if not_matched_by_source_delete_condition is not None:
        drop = drop | F.coalesce(
            target_only & not_matched_by_source_delete_condition,
            F.lit(False),
        )
    ins_cond = source_only
    if not need_insert:
        ins_cond = F.lit(False)
    elif not_matched_insert_condition is not None:
        ins_cond = ins_cond & not_matched_insert_condition
    kept = j.filter(~drop & (~source_only | ins_cond))

    def _insert_expr(c: str):
        if isinstance(not_matched_insert, dict):
            return not_matched_insert.get(c, F.lit(None))
        return F.col(f"s.{c}") if c in src_cols else F.lit(None)

    proj = []
    for c in out_cols:
        expr = F.col(f"t.{c}")
        if matched_update is not None and c in matched_update:
            expr = F.when(upd_cond, matched_update[c]).otherwise(expr)
        if need_insert:
            expr = F.when(source_only, _insert_expr(c)).otherwise(expr)
        proj.append(expr.cast(target.schema[c].dataType).alias(c))
    return kept.select(*proj)


def merge_into_table(
    spark,
    table: str,
    source: DataFrame,
    on: list[str],
    schema=None,
    **merge_kwargs,
) -> int:
    """Transactional MERGE INTO a manifest table: read the live
    snapshot, apply :func:`merge_into`, and commit the result as the
    next atomic snapshot PINNED to the version that was read
    (``expect_version``) — a concurrent writer raises
    ``manifest.CommitConflict`` instead of having its commit silently
    folded away, the same optimistic-concurrency discipline as
    compaction and ``delete_rows``. Returns the new version.

    Readers of the old snapshot are undisturbed (immutable segments);
    this is the Delta ``MERGE INTO <table>`` shape on the engine's own
    commit protocol.
    """
    from asset_prices_parquet_saver_spark.sources import manifest as mf

    v = mf.current_version(table)
    target = mf.read_versioned(spark, table, schema=schema, version=v)
    merged = merge_into(target, source, on, **merge_kwargs)
    return mf.commit_versioned(
        merged.localCheckpoint(), table, expect_version=v
    )
