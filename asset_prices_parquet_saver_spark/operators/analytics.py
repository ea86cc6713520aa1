"""Event/board analytics operators: strict-order funnel conversion,
weekly cohort retention, running-peak drawdown, column profiling, and
fixed-bound histograms.

These are the product-analytics queries a tick/event store grows once
it exists (the reference repo stops at saving bars; an engine that
replaces it needs the read side too). Every operator is a composition
of built-in window/agg functions — no UDFs — and every shuffle is
keyed on the natural entity key (user) so the plans hold at 100 TB:

- funnel: ONE shuffle on the user key; the strict step ordering is two
  chained WindowExec passes over the same (user, ts) sort — the second
  window consumes the first's output without re-sorting or
  re-exchanging (same partitioning + ordering).
- cohort: first-event week per user (map-side-combinable min), an
  equi-join back on the user key (co-partitioned with the agg, AQE
  merges the exchanges), then a distinct + count on the small
  (cohort, offset) grid.
- drawdown: per-user running max — user-keyed window, never a global
  sort; the final reduce is a map-side-combinable max per user.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from asset_prices_parquet_saver_spark.functions.numeric import round6_portable


def funnel_counts(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Strict-sequential funnel: a user reaches step k iff an event of
    type steps[k] occurs STRICTLY AFTER some event chain that reaches
    step k-1. Returns one row per step: (step_idx, step_name, users).

    Classic iterative formulations re-shuffle once per step; this one
    chains per-step qualification flags through windows over a single
    (user, ts, id) sort, so the whole funnel costs one exchange
    regardless of step count.
    """
    w_prec = (
        Window.partitionBy(user_col)
        .orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    df = events
    qual_cols: list[str] = []
    prev_qual: Column | None = None
    for i, step in enumerate(steps):
        is_step = F.col(type_col) == F.lit(step)
        if prev_qual is None:
            q = is_step
        else:
            seen_prev = F.coalesce(
                F.max(prev_qual.cast("int")).over(w_prec) == 1, F.lit(False)
            )
            q = is_step & seen_prev
        colname = f"_q{i}"
        df = df.withColumn(colname, q)
        qual_cols.append(colname)
        prev_qual = F.col(colname)

    per_user = df.groupBy(user_col).agg(
        *[F.max(F.col(c).cast("int")).alias(c) for c in qual_cols]
    )
    # coalesce: with NO events at all, SUM over zero users is NULL —
    # the funnel should report users=0 per step, not NULL.
    reached = per_user.agg(
        *[
            F.coalesce(F.sum(F.col(c)), F.lit(0)).cast("long").alias(c)
            for c in qual_cols
        ]
    )
    # Tiny pivot of the 1-row aggregate into one row per step.
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("step_idx"),
                F.lit(s).alias("step_name"),
                F.col(qual_cols[i]).alias("users"),
            )
            for i, s in enumerate(steps)
        ]
    )
    return (
        reached.select(F.explode(pairs).alias("r"))
        .select("r.step_idx", "r.step_name", "r.users")
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention: cohort = ISO week of the user's first
    event; a user is retained at offset k if they have any event in
    cohort_week + k weeks. Returns (cohort_week DATE, week_offset,
    users, retention) where retention = users / cohort size (offset 0).
    """
    first = events.groupBy(user_col).agg(F.min(ts_col).alias("_first_ts"))
    first = first.withColumn(
        "cohort_week", F.date_trunc("week", F.col("_first_ts")).cast("date")
    ).drop("_first_ts")
    acts = (
        events.select(user_col, F.date_trunc("week", F.col(ts_col)).cast("date").alias("_wk"))
        .join(first, user_col)
        .select(
            user_col,
            "cohort_week",
            (F.datediff(F.col("_wk"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    grid = acts.groupBy("cohort_week", "week_offset").agg(
        F.count("*").cast("long").alias("users")
    )
    w0 = Window.partitionBy("cohort_week")
    return grid.withColumn(
        "retention",
        # round6_portable, not F.round: retained/cohort-size is a
        # small-integer quotient — exactly the coarse-dyadic midpoint
        # class (1/128 = .0078125) where engine round() rules diverge.
        round6_portable(
            F.col("users")
            / F.max(F.when(F.col("week_offset") == 0, F.col("users"))).over(w0)
        ),
    )


def max_drawdown(
    ticks: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    price_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-key peak-to-trough drawdown over the tick sequence: running
    peak via a per-key ordered window, drawdown = peak - price, then a
    map-side-combinable max per key. Returns (key, n_ticks,
    peak_value, max_drawdown)."""
    w_run = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    with_peak = ticks.withColumn("_peak", F.max(price_col).over(w_run))
    return with_peak.groupBy(key_col).agg(
        F.count("*").cast("long").alias("n_ticks"),
        F.round(F.max(price_col), 6).alias("peak_value"),
        F.round(F.max(F.col("_peak") - F.col(price_col)), 6).alias("max_drawdown"),
    )


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Column profile (the ANALYZE TABLE summary a cost-based planner
    wants): one row per column with null count, exact distinct count,
    and min/max cast to double. Single scan — Spark plans the multi-
    column distinct via one Expand (rows × |cols|), every aggregate
    map-side combinable."""
    aggs = []
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"_n_{c}"),
            F.count_distinct(F.col(c)).cast("long").alias(f"_d_{c}"),
            F.min(F.col(c)).cast("double").alias(f"_min_{c}"),
            F.max(F.col(c)).cast("double").alias(f"_max_{c}"),
        ]
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"_n_{c}").alias("n_nulls"),
                F.col(f"_d_{c}").alias("n_distinct"),
                F.col(f"_min_{c}").alias("min_val"),
                F.col(f"_max_{c}").alias("max_val"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(rows).alias("r")).select(
        "r.col_name", "r.n_nulls", "r.n_distinct", "r.min_val", "r.max_val"
    )


def fixed_histogram(
    df: DataFrame,
    col: str,
    lo: float,
    width: float,
    n_buckets: int,
) -> DataFrame:
    """Equi-width histogram with FIXED bounds (one pass, no min/max
    pre-scan): bucket = clamp(floor((x - lo) / width), 0, n-1).
    Returns (bucket, bucket_lo, bucket_hi, n, total). Integer bucket
    math keeps the groupBy key exact across engines. NULL values are
    excluded (floor(NULL) would otherwise survive the clamp and emit a
    spurious all-NULL bucket row that breaks 0..n-1 consumers)."""
    b = F.floor((F.col(col) - F.lit(lo)) / F.lit(width)).cast("long")
    b = F.least(F.greatest(b, F.lit(0).cast("long")), F.lit(n_buckets - 1).cast("long"))
    return (
        df.filter(F.col(col).isNotNull())
        .withColumn("bucket", b)
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum(F.col(col).cast("decimal(18,2)")).cast("double"), 2).alias(
                "total"
            ),
        )
        .withColumn("bucket_lo", (F.lit(lo) + F.col("bucket") * F.lit(width)))
        .withColumn("bucket_hi", (F.lit(lo) + (F.col("bucket") + 1) * F.lit(width)))
        .select("bucket", "bucket_lo", "bucket_hi", "n", "total")
    )


def ohlc_partials(
    ticks: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    price_col: str = "value",
    id_col: str = "event_id",
    period: str = "day",
) -> DataFrame:
    """The bar monoid's partial state per (key, period bucket): open
    and close as min/max over a (ts, id, price) struct, high, low, the
    tick count and the exact decimal price sum. Every component is
    associative and commutative, so partial bars from any split of the
    ticks fold (:func:`fold_ohlc_partials`) to the bar of the whole.
    The bucket column is always named ``day`` (the period's first
    date)."""
    day = F.date_trunc(period, F.col(ts_col)).cast("date").alias("day")
    sel = F.struct(F.col(ts_col), F.col(id_col), F.col(price_col).alias("p"))
    return (
        ticks.select(F.col(key_col), day, F.col(ts_col), F.col(id_col), F.col(price_col))
        .groupBy(key_col, "day")
        .agg(
            F.min(sel).alias("_open_sel"),
            F.max(price_col).alias("_high"),
            F.min(price_col).alias("_low"),
            F.max(sel).alias("_close_sel"),
            F.count("*").cast("long").alias("_cnt"),
            F.sum(F.col(price_col).cast("decimal(28,2)")).alias("_vol"),
        )
    )


def fold_ohlc_partials(parts: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Combine partial bars to one partial bar per (key, day): the
    struct min/max re-select open/close across the parts, the rest
    combine as min/max/sum."""
    return parts.groupBy(key_col, "day").agg(
        F.min("_open_sel").alias("_open_sel"),
        F.max("_high").alias("_high"),
        F.min("_low").alias("_low"),
        F.max("_close_sel").alias("_close_sel"),
        F.sum("_cnt").cast("long").alias("_cnt"),
        F.sum("_vol").alias("_vol"),
    )


def ohlc_bar_columns(key_col: str = "user_id") -> list[Column]:
    """The finished bar (key, day, open, high, low, close, n_ticks) of
    a partial bar state."""
    return [
        F.col(key_col),
        F.col("day"),
        F.col("_open_sel").getField("p").alias("open"),
        F.col("_high").alias("high"),
        F.col("_low").alias("low"),
        F.col("_close_sel").getField("p").alias("close"),
        F.col("_cnt").alias("n_ticks"),
    ]


def ohlc_bars(
    ticks: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    price_col: str = "value",
    id_col: str = "event_id",
    period: str = "day",
) -> DataFrame:
    """OHLC bar resampling at any calendar granularity — the reference
    domain's core rollup (tick stream -> bar table); ``period`` is a
    date_trunc unit (day/week/month/quarter/year), so one operator
    serves every bar table a charting stack asks for. open/close are
    the prices at the first/last (ts, id) of the period, selected via
    min/max over a (ts, id, price) struct: unlike the rank-window
    formulation this is a PLAIN combinable aggregate — partials form
    map-side, so the one (key, period) shuffle moves per-bar partial
    states, never raw ticks. (Struct min/max plans as SortAggregate;
    that sort is on the group keys only, per-partition, not an
    ordering of the tick stream.) The id tie-break makes
    same-timestamp ticks deterministic. The bucket column is always
    named ``day`` (the period's first date) so downstream indicator
    operators compose unchanged at any granularity. It is the finished
    :func:`ohlc_partials`; the unused price sum is pruned from the
    plan."""
    parts = ohlc_partials(ticks, key_col, ts_col, price_col, id_col, period)
    return parts.select(*ohlc_bar_columns(key_col))


def twap(
    ticks: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    price_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Time-weighted average price per (key, day): each tick's price
    is weighted by its holding duration (microseconds until the next
    tick of the same key+day; the day's last tick carries no weight).
    A (key, day) with a SINGLE tick has zero total weight and emits no
    row at all — its TWAP is undefined, and callers joining against
    denser rollups (ohlc_bars, gap_fill_daily) must treat the missing
    day as no-data, not zero. The lead() runs in a per-(key, day)
    window — entity-keyed, never
    global — and the weighted sums stage through exact decimal *
    integer-microsecond products, so the quotient is engine-
    reproducible at 6 decimals."""
    day = F.date_trunc("day", F.col(ts_col)).cast("date").alias("day")
    w = (
        Window.partitionBy(key_col, "day")
        .orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
    )
    t = (
        ticks.select(F.col(key_col), day, F.col(ts_col), F.col(id_col), F.col(price_col))
        .withColumn("_dt", F.unix_micros(F.lead(ts_col).over(w)) - F.unix_micros(F.col(ts_col)))
        .filter(F.col("_dt").isNotNull())
    )
    num = F.sum(F.col(price_col).cast("decimal(18,2)") * F.col("_dt"))
    den = F.sum(F.col("_dt"))
    return t.groupBy(key_col, "day").agg(
        # decimal-staged rounding: the quotient of an exact-decimal sum
        # by an integer CAN hit a dyadic .xxxxxx5 midpoint where the two
        # engines' round() midpoint rules diverge (see round6_portable).
        round6_portable(num.cast("double") / den.cast("double")).alias("twap"),
        den.cast("long").alias("span_micros"),
        F.count("*").cast("long").alias("n_intervals"),
    )


def daily_returns(
    ticks: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    price_col: str = "value",
    id_col: str = "event_id",
    period: str = "day",
) -> DataFrame:
    """Close-to-close daily simple returns per key — the canonical
    downstream read of a daily-bar price store (the reference persists
    the bars; this is the first thing its consumers compute from
    them). Daily closes come from the same combinable (ts, id, price)
    struct-max as ohlc_bars (one (key, day) shuffle, map-side
    partials); the return then needs only a per-KEY lag over the
    bar-sized rollup — entity-keyed window over ~days-per-key rows,
    never a global sort, never the raw tick stream. Zero closes guard
    the division (NULL return, matching SQL CASE semantics), and the
    quotient rounds to 6 decimals so it hashes across engines.
    ``period`` generalizes the bucket to any date_trunc unit (monthly
    performance tables use "month"); the bucket column stays named
    ``day`` so consumers compose unchanged."""
    day = F.date_trunc(period, F.col(ts_col)).cast("date").alias("day")
    sel = F.struct(F.col(ts_col), F.col(id_col), F.col(price_col).alias("p"))
    closes = (
        ticks.select(
            F.col(key_col), day, F.col(ts_col), F.col(id_col), F.col(price_col)
        )
        .groupBy(key_col, "day")
        .agg(F.max(sel).getField("p").alias("close"))
    )
    w = Window.partitionBy(key_col).orderBy("day")
    prev = F.lag("close").over(w)
    return closes.select(
        F.col(key_col),
        F.col("day"),
        F.col("close"),
        prev.alias("prev_close"),
        # round6_portable (IEEE floor construction) rather than
        # F.round: closes carry ≤2 decimals, so the return quotient CAN
        # land on a coarse dyadic .xxxxxx5 midpoint where Spark round
        # and DuckDB round disagree — and the previous DECIMAL(38,6)
        # staging proved build-dependent (CORRECTNESS_r05 red row).
        F.when(prev != 0, round6_portable(F.col("close") / prev - 1)).alias("ret"),
    )


def dq_predicate_checks(df: DataFrame, checks: dict[str, Column]) -> DataFrame:
    """Declarative data-quality constraints (the Deequ shape): each
    check is a row-level predicate; violations count rows where it is
    FALSE or NULL. ALL checks evaluate in ONE scan (conditional
    aggregates), then a tiny literal-array explode turns the 1-row
    result into (check_name, violations, total, passed) rows."""
    aggs = [F.count("*").cast("long").alias("_total")]
    for name, pred in checks.items():
        aggs.append(
            # coalesce: SUM over zero rows is NULL, which would make an
            # EMPTY table report violations=NULL / passed=NULL — a gate
            # that neither passes nor fails. An empty table violates
            # nothing: 0 violations, passed.
            F.coalesce(F.sum(F.when(pred, 0).otherwise(1)), F.lit(0))
            .cast("long")
            .alias(f"_v_{name}")
        )
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("check_name"),
                F.col(f"_v_{name}").alias("violations"),
                F.col("_total").alias("total"),
                (F.col(f"_v_{name}") == 0).alias("passed"),
            )
            for name in checks
        ]
    )
    return one.select(F.explode(rows).alias("r")).select(
        "r.check_name", "r.violations", "r.total", "r.passed"
    )


def dq_uniqueness(df: DataFrame, cols: list[str], name: str) -> DataFrame:
    """Uniqueness constraint: violations = rows - distinct key tuples
    (0 for a true key). One combinable scan.

    The distinct runs over a STRUCT of the key columns: COUNT(DISTINCT
    a, b) skips any tuple containing a NULL, which would count every
    NULL-keyed row as a duplicate (N distinct NULL-keyed rows -> N
    false violations). Struct equality is null-safe, so NULL keys are
    compared as values: distinct NULL-keyed rows don't violate, while
    two IDENTICAL NULL-keyed tuples still count as a real duplicate."""
    one = df.agg(
        F.count("*").cast("long").alias("total"),
        F.count_distinct(F.struct(*[F.col(c) for c in cols]))
        .cast("long")
        .alias("_d"),
    )
    return one.select(
        F.lit(name).alias("check_name"),
        (F.col("total") - F.col("_d")).alias("violations"),
        "total",
        (F.col("total") == F.col("_d")).alias("passed"),
    )


def dq_referential(
    child: DataFrame, parent: DataFrame, child_key: str, parent_key: str, name: str
) -> DataFrame:
    """Referential-integrity constraint: violations = child rows whose
    NON-NULL key has no parent (left-anti join; Spark broadcasts or
    shuffles by key as sizes dictate — at 100 TB this is the standard
    keyed anti-join, never a collect). NULL foreign keys vacuously
    satisfy the constraint, matching SQL FK semantics — an anti-join
    alone would keep them (NULL never equi-matches) and report every
    nullable-FK row as an orphan."""
    total = child.agg(F.count("*").cast("long").alias("total"))
    orphans = (
        child.filter(F.col(child_key).isNotNull())
        .join(
            parent.select(F.col(parent_key).alias(child_key)).distinct(),
            child_key,
            "left_anti",
        ).agg(F.count("*").cast("long").alias("violations"))
    )
    return (
        orphans.crossJoin(total)
        .select(
            F.lit(name).alias("check_name"),
            "violations",
            "total",
            (F.col("violations") == 0).alias("passed"),
        )
    )


def gap_fill_daily(
    ticks: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    price_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Calendar gap-fill with forward-fill: resample the tick stream to
    one row per (key, calendar day) across each key's [first, last] day
    span, carrying the last observed close over days with no ticks —
    the bar-store densification the reference's daily tables assume
    (markets close; downstream joins want a dense calendar).

    Scale shape: the per-day close is the combinable struct-max
    aggregate (see ohlc_bars); the calendar expands per key via
    sequence() — rows bounded by key-count x day-span, tiny next to
    the tick table; the fill is a per-key ordered window (entity-
    keyed, never global)."""
    day = F.date_trunc("day", F.col(ts_col)).cast("date").alias("day")
    sel = F.struct(F.col(ts_col), F.col(id_col), F.col(price_col).alias("p"))
    daily = (
        ticks.select(F.col(key_col), day, F.col(ts_col), F.col(id_col), F.col(price_col))
        .groupBy(key_col, "day")
        .agg(F.max(sel).getField("p").alias("close"))
    )
    span = daily.groupBy(key_col).agg(
        F.min("day").alias("_d0"), F.max("day").alias("_d1")
    )
    cal = span.select(
        key_col, F.explode(F.sequence(F.col("_d0"), F.col("_d1"))).alias("day")
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col("day").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cal.join(daily, [key_col, "day"], "left")
        .withColumn("close_filled", F.last("close", ignorenulls=True).over(w))
        .withColumn("is_gap", F.col("close").isNull())
        .select(key_col, "day", "close_filled", "is_gap")
    )


def _daily_closes(
    ticks: DataFrame, key_col: str, ts_col: str, price_col: str, id_col: str
) -> DataFrame:
    """(key, day, close): the last price of each (key, day) via the same
    combinable (ts, id, price) struct-max as ohlc_bars — one keyed
    shuffle of per-bar partials, never a rank window over raw ticks."""
    day = F.date_trunc("day", F.col(ts_col)).cast("date").alias("day")
    sel = F.struct(F.col(ts_col), F.col(id_col), F.col(price_col).alias("p"))
    return (
        ticks.select(
            F.col(key_col), day, F.col(ts_col), F.col(id_col), F.col(price_col)
        )
        .groupBy(key_col, "day")
        .agg(F.max(sel).getField("p").alias("close"))
    )


def bollinger_bands(
    ticks: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    price_col: str = "value",
    id_col: str = "event_id",
    window: int = 5,
    width: float = 2.0,
) -> DataFrame:
    """Bollinger bands over the daily-close series per key: an
    N-day rolling mean ± width·(sample stddev), emitted only for days
    with a full window. The canonical technical-indicator read of the
    reference's daily-bar store (semantics per Bollinger's published
    definition; the reference persists the bars these consume).

    Scale/portability: the rolling frame is a per-key ROWS window over
    the bar-sized rollup (entity-keyed, never a global sort), and the
    moments are exact-decimal sums (close carries ≤2 decimals) so the
    variance assembles from order-independent values — the stddev is
    then one identical double expression on both engines. The mean (a
    decimal quotient that can land on a dyadic midpoint) rounds via the
    staged decimal path; the band edges involve sqrt (irrational) where
    plain 6-decimal rounding is safe.
    """
    closes = _daily_closes(ticks, key_col, ts_col, price_col, id_col)
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col("day").asc())
        .rowsBetween(-(window - 1), 0)
    )
    cd = F.col("close").cast("decimal(18,2)")
    s = F.sum(cd).over(w).cast("double")
    ssq = F.sum(cd * cd).over(w).cast("double")
    cnt = F.count("close").over(w)
    n = F.lit(float(window))
    ma = F.col("_s") / n
    # sample variance from exact moments; cancellation can dip a hair
    # below zero — clamp (identical arithmetic → identical clamp on
    # both engines)
    var = F.greatest((F.col("_ssq") - F.col("_s") * F.col("_s") / n) / (n - 1), F.lit(0.0))
    sd = F.sqrt(var)
    return (
        closes.select(
            F.col(key_col), F.col("day"), F.col("close"),
            s.alias("_s"), ssq.alias("_ssq"), cnt.alias("_cnt"),
        )
        .filter(F.col("_cnt") == window)
        .select(
            F.col(key_col),
            F.col("day"),
            F.col("close"),
            round6_portable(ma).alias("ma"),
            # round6_portable on the bands too (not plain round): when a
            # key's window is flat the clamped variance is exactly 0, sd
            # is exactly 0.0, and the band COLLAPSES TO ma — the decimal
            # quotient whose midpoint the staged path exists for. The
            # sqrt term costs nothing under the IEEE-floor construction
            # (sqrt is correctly rounded, so the operand is identical on
            # both engines either way).
            round6_portable(ma + width * sd).alias("upper_band"),
            round6_portable(ma - width * sd).alias("lower_band"),
        )
    )


def rsi(
    ticks: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    price_col: str = "value",
    id_col: str = "event_id",
    window: int = 14,
) -> DataFrame:
    """Relative Strength Index (simple-moving-average variant) over the
    daily-close series per key: RSI = 100·ΣG/(ΣG+ΣL) over the last N
    close-to-close moves — algebraically 100 − 100/(1+RS) with
    RS = avg gain / avg loss, but assembled as ONE division of two
    exact-decimal sums so the value is bit-identical across engines
    before the staged 6-decimal rounding. Wilder's recursive smoothing
    is deliberately not used: it serializes the whole history per key,
    while the SMA variant is a ROWS window over the bar rollup. A flat
    window (ΣG+ΣL = 0) has no defined RSI → NULL; all-gain windows
    yield exactly 100."""
    closes = _daily_closes(ticks, key_col, ts_col, price_col, id_col)
    wlag = Window.partitionBy(key_col).orderBy(F.col("day").asc())
    cd = F.col("close").cast("decimal(18,2)")
    diff = (cd - F.lag(cd).over(wlag)).alias("_diff")
    moves = closes.select(F.col(key_col), F.col("day"), diff).filter(
        F.col("_diff").isNotNull()
    )
    wroll = (
        Window.partitionBy(key_col)
        .orderBy(F.col("day").asc())
        .rowsBetween(-(window - 1), 0)
    )
    zero = F.lit(0).cast("decimal(18,2)")
    gains = F.sum(F.greatest(F.col("_diff"), zero)).over(wroll).cast("double")
    losses = F.sum(F.greatest(-F.col("_diff"), zero)).over(wroll).cast("double")
    cnt = F.count("_diff").over(wroll)
    return (
        moves.select(
            F.col(key_col), F.col("day"),
            gains.alias("_g"), losses.alias("_l"), cnt.alias("_cnt"),
        )
        .filter(F.col("_cnt") == window)
        .select(
            F.col(key_col),
            F.col("day"),
            F.when(
                F.col("_g") + F.col("_l") > 0,
                round6_portable(F.lit(100.0) * F.col("_g") / (F.col("_g") + F.col("_l"))),
            ).alias("rsi"),
        )
    )


def adjusted_closes(
    ticks: DataFrame,
    actions: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    price_col: str = "value",
    id_col: str = "event_id",
    action_day_col: str = "aday",
    ratio_col: str = "ratio",
) -> DataFrame:
    """Back-adjust the daily close series for corporate actions — the
    yfinance ``auto_adjust`` semantics the reference ingests
    pre-applied (download_historical_price.py requests adjusted bars);
    this operator lets the engine DERIVE the adjusted series from raw
    closes + an action table, so re-adjustment after a late-arriving
    action is a query, not a re-download.

    ``actions`` rows are (key, action day, ratio) where ratio is the
    multiplicative back-adjustment applied to all STRICTLY EARLIER
    closes (a 2:1 split contributes 0.5): adj_close(t) = close(t) ×
    Π_{a.day > t} a.ratio.

    Scale/portability: corporate actions are RARE by domain (dozens
    per key over decades), so the per-key action list is a bounded
    array — one groupBy over the tiny action table, one key-equi join
    onto the bar rollup (AQE broadcasts the small side), then a
    day-sorted sequential double fold per row. The fold order is
    pinned (sort_array ascending, initial 1.0), so the oracle replays
    the IDENTICAL IEEE multiply sequence with list_sort +
    list_reduce(list_prepend(1.0, ...)) — bit-identical before the
    IEEE-floor rounding (products of decimal-scale ratios are the
    rational midpoint class, so plain round is NOT safe here)."""
    closes = _daily_closes(ticks, key_col, ts_col, price_col, id_col)
    acts = actions.groupBy(key_col).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(action_day_col).alias("d"),
                    F.col(ratio_col).alias("r"),
                )
            )
        ).alias("_acts")
    )
    j = closes.join(acts, key_col, "left")
    suffix = F.aggregate(
        F.filter(F.col("_acts"), lambda a: a["d"] > F.col("day")),
        F.lit(1.0),
        lambda acc, a: acc * a["r"],
    )
    return j.select(
        F.col(key_col),
        F.col("day"),
        F.col("close"),
        round6_portable(F.coalesce(suffix, F.lit(1.0))).alias("adj_factor"),
        round6_portable(
            F.col("close") * F.coalesce(suffix, F.lit(1.0))
        ).alias("adj_close"),
    )


def atr(
    ticks: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    price_col: str = "value",
    id_col: str = "event_id",
    window: int = 14,
) -> DataFrame:
    """Average True Range (SMA variant) per key over daily OHLC bars:
    TR_t = greatest(high−low, |high−prev_close|, |low−prev_close|)
    (first bar: high−low, Wilder's convention), ATR = N-day simple
    mean of TR, emitted only for full windows. Wilder's recursive
    smoothing is deliberately avoided for the same reason as RSI's
    (it serializes each key's full history); the SMA variant keeps the
    indicator one combinable window pass.

    Portability: prices carry ≤2 decimals, so TR is EXACT in
    DECIMAL(18,2) (differences only — no products, no overflow class)
    and the window sum is order-independent; the final sum/N quotient
    is the rational class that rounds via the IEEE-floor contract.
    Scale: OHLC rollup (one (key, day) shuffle of combinable partials)
    → per-key lag + ROWS window over the bar-sized series."""
    bars = ohlc_bars(ticks, key_col, ts_col, price_col, id_col)
    wlag = Window.partitionBy(key_col).orderBy(F.col("day").asc())
    h = F.col("high").cast("decimal(18,2)")
    l = F.col("low").cast("decimal(18,2)")
    pc = F.lag(F.col("close").cast("decimal(18,2)")).over(wlag)
    tr = F.when(pc.isNull(), h - l).otherwise(
        F.greatest(h - l, F.abs(h - pc), F.abs(l - pc))
    )
    wnd = (
        Window.partitionBy(key_col)
        .orderBy(F.col("day").asc())
        .rowsBetween(-(window - 1), 0)
    )
    t = bars.select(F.col(key_col), F.col("day"), tr.alias("_tr"))
    return (
        t.select(
            F.col(key_col),
            F.col("day"),
            F.col("_tr"),
            F.sum("_tr").over(wnd).cast("double").alias("_s"),
            F.count("_tr").over(wnd).alias("_cnt"),
        )
        .filter(F.col("_cnt") == window)
        .select(
            F.col(key_col),
            F.col("day"),
            F.col("_tr").cast("double").alias("true_range"),
            round6_portable(F.col("_s") / F.lit(float(window))).alias("atr"),
        )
    )


def stochastic_oscillator(
    ticks: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    price_col: str = "value",
    id_col: str = "event_id",
    k_window: int = 14,
    d_window: int = 3,
) -> DataFrame:
    """Stochastic oscillator per key over daily OHLC bars:
    %K = 100·(close − min low)/(max high − min low) over the trailing
    ``k_window`` days, %D = ``d_window``-day simple mean of %K. Rows
    emit only for full %K windows; a flat range (max == min) yields
    NULL %K, and %D requires ``d_window`` consecutive NON-NULL %K.

    Portability: extrema and differences are exact in DECIMAL(18,2);
    %K is a pure rational quotient (the midpoint class → IEEE-floor
    rounding), staged to DECIMAL(10,6) so the %D mean assembles from
    exact order-independent sums before its own staged rounding.
    Scale: same shape as atr — bar rollup shuffle, then entity-keyed
    ROWS windows only."""
    bars = ohlc_bars(ticks, key_col, ts_col, price_col, id_col)
    wk = (
        Window.partitionBy(key_col)
        .orderBy(F.col("day").asc())
        .rowsBetween(-(k_window - 1), 0)
    )
    h = F.col("high").cast("decimal(18,2)")
    l = F.col("low").cast("decimal(18,2)")
    c = F.col("close").cast("decimal(18,2)")
    hh = F.max(h).over(wk)
    ll = F.min(l).over(wk)
    base = bars.select(
        F.col(key_col),
        F.col("day"),
        (c - ll).alias("_num"),
        (hh - ll).alias("_den"),
        F.count("high").over(wk).alias("_cnt"),
    ).filter(F.col("_cnt") == k_window)
    k = F.when(
        F.col("_den") != 0,
        round6_portable(
            F.lit(100.0) * F.col("_num").cast("double") / F.col("_den").cast("double")
        ),
    ).cast("decimal(10,6)")
    wd = (
        Window.partitionBy(key_col)
        .orderBy(F.col("day").asc())
        .rowsBetween(-(d_window - 1), 0)
    )
    kd = base.select(F.col(key_col), F.col("day"), k.alias("_k"))
    return kd.select(
        F.col(key_col),
        F.col("day"),
        F.col("_k").cast("double").alias("pct_k"),
        F.when(
            (F.count("*").over(wd) == d_window)
            & (F.count("_k").over(wd) == d_window),
            round6_portable(
                F.sum("_k").over(wd).cast("double") / F.lit(float(d_window))
            ),
        ).alias("pct_d"),
    )


def beta_vs_market(
    ticks: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    price_col: str = "value",
    id_col: str = "event_id",
    min_days: int = 2,
) -> DataFrame:
    """CAPM beta per key against the equal-weight market: slope of the
    key's daily returns on the cross-sectional mean return,
    cov(r_k, r_m)/var(r_m), assembled from exact-decimal moments in one
    combinable pass (the qty_price_correlation construction — no
    centering scan, no double-sum order sensitivity).

    Plan shape at 100 TB: returns come from the bar-sized daily rollup
    (keyed shuffle + per-key lag); the market series is one tiny
    per-day aggregate (|days| rows) that BROADCASTS back onto the
    returns; the moments are map-side-combinable per key. Returns are
    rounded via the IEEE-floor contract then staged to DECIMAL(18,6)
    (unambiguous, the rounded value sits ~1e-16 from a 6-decimal
    point) so every sum is exact; the final slope is one double
    expression of identical operands. Keys with fewer than ``min_days``
    returns or zero market variance emit NULL beta.
    """
    rets = _staged_daily_returns(ticks, key_col, ts_col, price_col, id_col)
    market = rets.groupBy("day").agg(
        (F.sum("_r").cast("double") / F.count("_r")).alias("_m")
    )
    market = market.withColumn(
        "_m", round6_portable(F.col("_m")).cast("decimal(18,6)")
    )
    j = rets.join(F.broadcast(market), "day")
    x, y = F.col("_r"), F.col("_m")
    s = j.groupBy(key_col).agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, syy = F.col("sxy"), F.col("syy")
    denom = n * syy - sy * sy
    return s.select(
        F.col(key_col),
        n.cast("long").alias("n_days"),
        F.when(
            (n >= min_days) & (denom > 0),
            # round6_portable, not F.round: beta is a pure rational
            # quotient of decimal-staged sums (no irrational term), the
            # exact class that can land on a dyadic .xxxxxx5 midpoint
            # where engine round() rules diverge.
            round6_portable((n * sxy - sx * sy) / denom),
        ).alias("beta"),
    )


def _staged_daily_returns(
    ticks: DataFrame, key_col: str, ts_col: str, price_col: str, id_col: str
) -> DataFrame:
    """(key, day, _r): daily simple returns rounded via the IEEE-floor
    contract then staged to exact DECIMAL(18,6) — the shared front end
    of every moment-based return statistic (beta, Sharpe, pairwise
    corr): sums over _r are order-independent, and the rounded double
    sits ~1e-16 from a 6-decimal point so the double→decimal cast is
    unambiguous on any engine."""
    closes = _daily_closes(ticks, key_col, ts_col, price_col, id_col)
    wlag = Window.partitionBy(key_col).orderBy(F.col("day").asc())
    prev = F.lag("close").over(wlag)
    return (
        closes.select(
            F.col(key_col),
            F.col("day"),
            F.when(prev != 0, (F.col("close") / prev - 1)).alias("_r"),
        )
        .filter(F.col("_r").isNotNull())
        .withColumn("_r", round6_portable(F.col("_r")).cast("decimal(18,6)"))
    )


def sharpe_ratio(
    ticks: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    price_col: str = "value",
    id_col: str = "event_id",
    periods_per_year: int = 252,
    min_days: int = 2,
) -> DataFrame:
    """Annualized Sharpe ratio per key (risk-free rate 0):
    mean(r)/sd(r) · √periods over the daily simple returns — with
    max_drawdown and beta, the third canonical risk read of the
    reference's bar store (download_historical_price.py's output).

    Mean and SAMPLE variance assemble from decimal-exact moments in one
    map-side-combinable pass per key (the qty_price_correlation
    construction); the final expression contains √variance — the
    irrational class where plain round-to-6 is engine-safe (a dyadic
    midpoint has measure zero; see functions/numeric.round6). Keys
    with < ``min_days`` returns or zero variance emit NULL.

    Scale shape: daily rollup (one keyed shuffle) → per-key lag →
    per-key combinable sums. Nothing global, nothing per-tick past the
    first rollup."""
    rets = _staged_daily_returns(ticks, key_col, ts_col, price_col, id_col)
    x = F.col("_r")
    s = rets.groupBy(key_col).agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(x * x).cast("double").alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    var_num = n * sxx - sx * sx  # n·(n−1)·sample-variance
    ann = F.lit(float(periods_per_year))
    return s.select(
        F.col(key_col),
        n.cast("long").alias("n_days"),
        F.when(
            (n >= min_days) & (var_num > 0),
            F.round(
                (sx / n)
                / F.sqrt(var_num / (n * (n - F.lit(1.0))))
                * F.sqrt(ann),
                6,
            ),
        ).alias("sharpe"),
    )


def return_correlations(
    ticks: DataFrame,
    top_k: int = 20,
    key_col: str = "user_id",
    ts_col: str = "ts",
    price_col: str = "value",
    id_col: str = "event_id",
    min_days: int = 2,
) -> DataFrame:
    """Pairwise Pearson correlation matrix (upper triangle) between the
    daily return series of the ``top_k`` most-observed keys — the
    portfolio-construction read of the bar store.

    All-pairs correlation over every entity is quadratic by nature, so
    the operator is explicitly BOUNDED: the universe is the top-k keys
    by return-day count (ties broken by key for determinism), chosen
    with one tiny aggregate that BROADCASTS back as a semi-join filter.
    Day-aligned pairs then come from a per-day pair expansion over the
    ≤ k filtered rows of each day — collect the day's (key, r) structs
    (bounded state: k elements) and explode the k²/2 ordered
    combinations with higher-order array functions, entirely JVM-side.
    A day-keyed SELF-JOIN would be semantically identical but
    re-evaluates the tick-scan lineage once per join side (Spark does
    not share unpersisted subtrees); the array expansion reads the
    fact table exactly twice (top-k pass + pair pass) with no cache.
    Moments are decimal-exact and combinable per pair; the final corr
    contains √·√ (irrational class → plain round-to-6 is engine-safe).
    Pairs with < ``min_days`` common days or a zero variance emit NULL.
    """
    rets = _staged_daily_returns(ticks, key_col, ts_col, price_col, id_col)
    top = (
        rets.groupBy(key_col)
        .agg(F.count("*").alias("_cnt"))
        .orderBy(F.col("_cnt").desc(), F.col(key_col).asc())
        .limit(top_k)
        .select(key_col)
    )
    sel = rets.join(F.broadcast(top), key_col, "left_semi")
    byday = sel.groupBy("day").agg(
        F.collect_list(F.struct(F.col(key_col).alias("k"), F.col("_r").alias("r"))).alias("xs")
    )
    pairs = byday.select(
        F.explode(
            F.flatten(
                F.transform(
                    "xs",
                    lambda a: F.filter(
                        F.transform(
                            "xs",
                            lambda b: F.struct(
                                a["k"].alias("key_a"),
                                b["k"].alias("key_b"),
                                a["r"].alias("_x"),
                                b["r"].alias("_y"),
                            ),
                        ),
                        lambda p: p["key_a"] < p["key_b"],
                    ),
                )
            )
        ).alias("p")
    ).select("p.key_a", "p.key_b", "p._x", "p._y")
    x, y = F.col("_x"), F.col("_y")
    s = pairs.groupBy("key_a", "key_b").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    vx, vy = n * sxx - sx * sx, n * syy - sy * sy
    return s.select(
        "key_a",
        "key_b",
        n.cast("long").alias("n_days"),
        F.when(
            (n >= min_days) & (vx > 0) & (vy > 0),
            F.round((n * sxy - sx * sy) / (F.sqrt(vx) * F.sqrt(vy)), 6),
        ).alias("corr"),
    )


def ewma_closes(
    ticks: DataFrame,
    alpha: float = 0.2,
    key_col: str = "user_id",
    ts_col: str = "ts",
    price_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Exponentially-weighted moving average over the daily closes:
    e_0 = c_0, e_t = α·c_t + (1−α)·e_{t−1} — the EXACT recursive form
    (what ta-lib/pandas ewm(adjust=False) computes), not a truncated-
    window approximation.

    A linear recurrence cannot be a SQL window (each value depends on
    the previous OUTPUT), so this is the honest Spark shape for
    per-entity sequential state: one keyed shuffle to the daily-bar
    rollup, then a mapInPandas kernel over key-partitioned,
    (key, day)-sorted partitions. mapInPandas rather than per-group
    applyInPandas: the kernel is invoked once per ARROW BATCH instead
    of once per key, so per-invocation overhead is O(partitions), not
    O(keys) — measured ~2× on the 1500-key bench table, and the gap
    widens with key count, which is the axis that grows at 100 TB.
    Keys are contiguous within a sorted partition but may SPAN Arrow
    batch boundaries, so the recurrence state carries across batches
    inside the per-partition iterator.

    Cross-engine determinism: the kernel runs the recurrence in IEEE
    double with a fixed operand order (α·c + (1.0−α)·e, subtraction
    spelled out), which any engine replaying the same order reproduces
    bit-for-bit — the oracle is a recursive CTE stepping the identical
    expression. Output rounds via the IEEE-floor contract.
    """
    from pyspark.sql.types import (
        DateType,
        DoubleType,
        StructField,
        StructType,
    )

    closes = _daily_closes(ticks, key_col, ts_col, price_col, id_col)
    # key type comes from the INPUT schema — hardcoding long corrupts
    # or breaks any string/int keyed caller
    out_schema = StructType(
        [
            StructField(key_col, closes.schema[key_col].dataType),
            StructField("day", DateType()),
            StructField("close", DoubleType()),
            StructField("ewma", DoubleType()),
        ]
    )
    a = float(alpha)
    b = 1.0 - a  # precomputed so kernel and oracle share the literal

    def gen(batches):
        import numpy as np

        cur_key = None
        e = 0.0
        for pdf in batches:
            if not len(pdf):
                continue
            keys = pdf[key_col].to_numpy()
            closes_np = pdf["close"].to_numpy(dtype="float64")
            out = np.empty(len(pdf), dtype="float64")
            for i in range(len(pdf)):
                c = closes_np[i]
                if keys[i] != cur_key:
                    cur_key = keys[i]
                    e = c
                else:
                    # fixed operand order — mirrored literally by the
                    # oracle's recursive CTE so every intermediate
                    # double is identical
                    e = a * c + b * e
                out[i] = e
            pdf = pdf[[key_col, "day", "close"]].copy()
            pdf["ewma"] = out
            yield pdf

    res = (
        closes.repartition(key_col)
        .sortWithinPartitions(key_col, "day")
        .mapInPandas(gen, out_schema)
    )
    return res.select(
        F.col(key_col),
        F.col("day"),
        F.col("close"),
        round6_portable(F.col("ewma")).alias("ewma"),
    )


def macd(
    ticks: DataFrame,
    fast: int = 12,
    slow: int = 26,
    signal: int = 9,
    key_col: str = "user_id",
    ts_col: str = "ts",
    price_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """MACD over the daily closes — the standard momentum indicator a
    bar store's consumers compute next after EWMA: macd = EMA_fast −
    EMA_slow, signal = EMA_signal(macd), histogram = macd − signal,
    all in the exact recursive (adjust=False) form with period n ⇒
    α = 2/(n+1), seeded at the first close (EMA_0 = c_0, so macd_0 =
    0 and signal_0 = 0 — the ta-lib/pandas-ewm convention).

    Same engine shape as :func:`ewma_closes` (three linear recurrences
    cannot be SQL windows): one keyed shuffle to the bar rollup, then
    a mapInPandas kernel over key-partitioned (key, day)-sorted
    partitions — invoked per Arrow batch, not per key, with the
    recurrence state carried across batch boundaries inside the
    per-partition iterator (see ewma_closes for why). Cross-engine
    determinism: α and 1−α are precomputed Python doubles whose
    shortest reprs the oracle inlines, and every step is the fixed
    IEEE expression ``α·c + β·e`` / ``ef − es`` — a recursive CTE
    replaying that order reproduces every intermediate bit-for-bit;
    outputs round via the IEEE-floor contract."""
    from pyspark.sql.types import (
        DateType,
        DoubleType,
        StructField,
        StructType,
    )

    closes = _daily_closes(ticks, key_col, ts_col, price_col, id_col)
    out_schema = StructType(
        [
            StructField(key_col, closes.schema[key_col].dataType),
            StructField("day", DateType()),
            StructField("close", DoubleType()),
            StructField("macd", DoubleType()),
            StructField("signal", DoubleType()),
            StructField("histogram", DoubleType()),
        ]
    )
    af, asig = 2.0 / (fast + 1), 2.0 / (signal + 1)
    asl = 2.0 / (slow + 1)
    bf, bsl, bsig = 1.0 - af, 1.0 - asl, 1.0 - asig

    def gen(batches):
        import numpy as np

        cur_key = None
        ef = es = sig = 0.0
        for pdf in batches:
            if not len(pdf):
                continue
            keys = pdf[key_col].to_numpy()
            closes_np = pdf["close"].to_numpy(dtype="float64")
            m = np.empty(len(pdf), dtype="float64")
            s = np.empty(len(pdf), dtype="float64")
            for i in range(len(pdf)):
                c = closes_np[i]
                # fixed operand order — mirrored literally by the
                # oracle's recursive CTE so every intermediate double
                # is identical
                if keys[i] != cur_key:
                    cur_key = keys[i]
                    ef = es = c
                    md = ef - es  # exactly 0.0
                    sig = md
                else:
                    ef = af * c + bf * ef
                    es = asl * c + bsl * es
                    md = ef - es
                    sig = asig * md + bsig * sig
                m[i] = md
                s[i] = sig
            pdf = pdf[[key_col, "day", "close"]].copy()
            pdf["macd"] = m
            pdf["signal"] = s
            pdf["histogram"] = m - s
            yield pdf

    res = (
        closes.repartition(key_col)
        .sortWithinPartitions(key_col, "day")
        .mapInPandas(gen, out_schema)
    )
    return res.select(
        F.col(key_col),
        F.col("day"),
        F.col("close"),
        round6_portable(F.col("macd")).alias("macd"),
        round6_portable(F.col("signal")).alias("signal"),
        round6_portable(F.col("histogram")).alias("histogram"),
    )


def donchian_channels(
    ticks: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    price_col: str = "value",
    id_col: str = "event_id",
    window: int = 20,
) -> DataFrame:
    """Donchian channels per key over daily OHLC bars: upper/lower =
    N-day rolling max(high)/min(low) (current bar included, the
    charting convention), middle = their midpoint, plus the breakout
    flags traders actually consume — close strictly above/below the
    PREVIOUS window's band (current bar excluded, else a new high can
    never break out of its own channel). Emitted for full windows only.

    Portability: prices carry ≤2 decimals, so max/min/compares are
    exact doubles; the midpoint is (upper+lower) staged in
    DECIMAL(18,2) then halved in DOUBLE — division by 2 is exact in
    binary floating point, so no rounding contract is needed anywhere.
    Scale: the one (key, day) OHLC shuffle, then per-key ROWS windows
    over bar-sized series — same posture as ATR."""
    bars = ohlc_bars(ticks, key_col, ts_col, price_col, id_col)
    win = (
        Window.partitionBy(key_col)
        .orderBy(F.col("day").asc())
        .rowsBetween(-(window - 1), 0)
    )
    prev = (
        Window.partitionBy(key_col)
        .orderBy(F.col("day").asc())
        .rowsBetween(-window, -1)
    )
    upper = F.max("high").over(win)
    lower = F.min("low").over(win)
    mid = (
        (upper.cast("decimal(18,2)") + lower.cast("decimal(18,2)"))
        .cast("double")
        / F.lit(2.0)
    )
    up_prev = F.max("high").over(prev)
    lo_prev = F.min("low").over(prev)
    cnt = F.count("*").over(win)
    cnt_prev = F.count("*").over(prev)
    return (
        bars.select(
            F.col(key_col),
            F.col("day"),
            F.col("close"),
            upper.alias("upper"),
            lower.alias("lower"),
            mid.alias("middle"),
            (F.col("close") > up_prev).alias("breakout_up"),
            (F.col("close") < lo_prev).alias("breakout_down"),
            cnt.alias("_c"),
            cnt_prev.alias("_cp"),
        )
        .filter((F.col("_c") == window) & (F.col("_cp") == window))
        .drop("_c", "_cp")
    )


def obv(
    ticks: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    price_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """On-Balance Volume per key over daily bars, with per-bar tick
    count standing in for share volume (the events table carries no
    size column): OBV_t = OBV_{t-1} + sign(close_t − close_{t-1}) ·
    vol_t, first bar contributing 0 (Granville's convention). The
    running sum is a cumulative window over EXACT integers (closes are
    ≤2-decimal doubles, so the sign compare is exact; volumes are
    longs) — no floating accumulation anywhere, bit-identical on any
    engine and any partitioning. One (key, day) rollup shuffle, then
    per-key ROWS windows over bar-sized series."""
    bars = ohlc_bars(ticks, key_col, ts_col, price_col, id_col)
    wlag = Window.partitionBy(key_col).orderBy(F.col("day").asc())
    cum = (
        Window.partitionBy(key_col)
        .orderBy(F.col("day").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pc = F.lag("close").over(wlag)
    signed = (
        F.when(pc.isNull(), F.lit(0))
        .when(F.col("close") > pc, F.col("n_ticks"))
        .when(F.col("close") < pc, -F.col("n_ticks"))
        .otherwise(F.lit(0))
    )
    t = bars.select(
        F.col(key_col), F.col("day"), F.col("n_ticks"), signed.alias("_d")
    )
    return t.select(
        F.col(key_col),
        F.col("day"),
        F.col("n_ticks").alias("volume"),
        F.sum("_d").over(cum).cast("long").alias("obv"),
    )


def user_growth(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    period: str = "day",
) -> DataFrame:
    """New-entity and cumulative-entity growth curve: an entity's
    period is the one containing its FIRST event (min over ts commutes
    with date_trunc), counts roll up per period, and the running total
    accumulates in exact integers.

    Scale: one (key) shuffle for the first-seen reduction (map-side
    combinable min), one (period) shuffle for the counts; the final
    cumulative window is UNPARTITIONED by construction but runs over
    period-cardinality rows — bounded by the calendar, not the data —
    the same acceptable class as globalorder's offsets window."""
    first = events.groupBy(key_col).agg(
        F.date_trunc(period, F.min(ts_col)).alias("period_start")
    )
    daily = first.groupBy("period_start").agg(
        F.count("*").cast("long").alias("new_users")
    )
    cum = (
        Window.orderBy(F.col("period_start").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return daily.select(
        "period_start",
        "new_users",
        F.sum("new_users").over(cum).cast("long").alias("cumulative_users"),
    )


def keltner_channels(
    ticks: DataFrame,
    ema_span: int = 20,
    atr_window: int = 10,
    mult: float = 2.0,
    key_col: str = "user_id",
    ts_col: str = "ts",
    price_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Keltner channels per key: middle = EMA(close, span) (the exact
    recursive adjust=False form), bands = middle ± mult·ATR(window) —
    the volatility-scaled sibling of Bollinger, composed from the two
    existing deterministic kernels.

    Determinism without new contracts: BOTH components already emit
    IEEE-floor-rounded doubles, and the band arithmetic on top is a
    multiply by an exactly-representable constant plus one add/sub of
    deterministic doubles — bit-identical on any engine replaying the
    same rounded inputs, so no further rounding is applied. Rows where
    either component lacks a full window are omitted (inner join).

    Scale: two passes over the fact (the close-series kernel and the
    OHLC/ATR rollup derive different bar shapes), each a single keyed
    shuffle; the final join moves bar-cardinality rows only."""
    a = 2.0 / (ema_span + 1.0)
    mid = ewma_closes(ticks, alpha=a, key_col=key_col, ts_col=ts_col,
                      price_col=price_col, id_col=id_col)
    rng = atr(ticks, key_col=key_col, ts_col=ts_col, price_col=price_col,
              id_col=id_col, window=atr_window)
    m = F.lit(float(mult))
    return (
        mid.join(rng.select(key_col, "day", "atr"), [key_col, "day"])
        .select(
            F.col(key_col),
            F.col("day"),
            F.col("close"),
            F.col("ewma").alias("middle"),
            (F.col("ewma") + m * F.col("atr")).alias("upper"),
            (F.col("ewma") - m * F.col("atr")).alias("lower"),
        )
    )


def basket_rules(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: float = 0.0,
) -> DataFrame:
    """Market-basket association rules (the Apriori output for pair
    itemsets): for every directed item pair (antecedent → consequent)
    whose support (rounded to 6 decimals, so the cut is engine-
    portable) is ≥ ``min_support`` — a FRACTION of baskets, which
    keeps the rule set stable across corpus scales where an absolute
    count would not —

        support    = co / N            (N = number of baskets)
        confidence = co / count(antecedent)
        lift       = co · N / (count(antecedent) · count(consequent))

    all rounded to 6 decimals. Returns (antecedent, consequent,
    co_count, support, confidence, lift) — two directed rows per
    unordered pair (confidence is direction-dependent).

    Scale shape: baskets are deduplicated to distinct (basket, item)
    rows first; the pair build is a self equi-join ON THE BASKET KEY —
    quadratic only within a basket, the market-basket discipline (a
    pathological mega-basket is a skewed join key; cap or salt it
    upstream). Item counts and the basket total are map-side-combinable
    aggregates; per-item counts are bounded by the item universe and
    broadcast into the rule relation, the total is a 1-row broadcast.
    Reference analogue: none (A-family extension, SURVEY §2.4)."""
    from asset_prices_parquet_saver_spark.functions.hints import bounded_broadcast
    from asset_prices_parquet_saver_spark.functions.pins import pin

    # pinned: the distinct (basket, item) relation feeds SIX subtrees
    # (both per-item count broadcasts, the basket total twice, and
    # both pair self-join sides) — unpinned, the caller's basket
    # pipeline (for the gated query, a lineitem x part fact join +
    # distinct) evaluated NINE times (plan-verified). One narrow
    # (o, it) checkpoint runs it once — the decide-with-small-rows
    # discipline.
    items = pin(
        baskets.select(
            F.col(basket_col).alias("o"), F.col(item_col).alias("it")
        ).distinct()
    )
    cnt = items.groupBy("it").agg(F.count("*").alias("cnt"))
    tot = items.agg(F.countDistinct("o").alias("n_baskets"))
    a = items.select(F.col("o"), F.col("it").alias("ia"))
    b = items.select(F.col("o"), F.col("it").alias("ib"))
    co = (
        a.join(b, "o")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count("*").alias("co"))
        .crossJoin(bounded_broadcast(tot))
        .filter(F.round(F.col("co") / F.col("n_baskets"), 6) >= min_support)
        .select("ia", "ib", "co")
    )
    # pinned: the union below references `co` twice — unpinned, the
    # basket self-join + aggregate ran once per direction
    co = pin(co)
    directed = co.select(
        F.col("ia").alias("antecedent"), F.col("ib").alias("consequent"), "co"
    ).unionByName(
        co.select(
            F.col("ib").alias("antecedent"), F.col("ia").alias("consequent"), "co"
        )
    )
    # item counts are bounded by the item universe; totals are 1 row
    cnt_a = bounded_broadcast(
        cnt.select(F.col("it").alias("antecedent"), F.col("cnt").alias("cnt_a"))
    )
    cnt_c = bounded_broadcast(
        cnt.select(F.col("it").alias("consequent"), F.col("cnt").alias("cnt_c"))
    )
    return (
        directed.join(cnt_a, "antecedent")
        .join(cnt_c, "consequent")
        .crossJoin(bounded_broadcast(tot))
        .select(
            "antecedent",
            "consequent",
            F.col("co").cast("long").alias("co_count"),
            F.round(F.col("co") / F.col("n_baskets"), 6).alias("support"),
            F.round(F.col("co") / F.col("cnt_a"), 6).alias("confidence"),
            F.round(
                F.col("co") * F.col("n_baskets") / (F.col("cnt_a") * F.col("cnt_c")),
                6,
            ).alias("lift"),
        )
    )
