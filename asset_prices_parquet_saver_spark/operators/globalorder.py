"""Distributed global ordering (SURVEY §2.5 window family, scale path).

A ``Window.orderBy(...)`` with no ``partitionBy`` funnels the whole
table through ONE task (Spark even warns: "No Partition Defined for
Window operation") — fine at sf0.1, fatal at 100 TB. Global row
numbering doesn't need that: a range partitioner already gives a total
order ACROSS partitions, so a global row number is just

    local row_number within the sorted range partition
    + the number of rows in all preceding partitions.

The per-partition counts are one tiny aggregation (≤ #partitions rows);
their running sum is the only unpartitioned window left and it runs
over that constant-size frame, not the data. Every big-data step stays
fully parallel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def with_global_row_number(
    df: DataFrame,
    order: list[Column],
    rn_col: str = "rn",
    num_partitions: int | None = None,
    total_col: str | None = None,
) -> DataFrame:
    """Append a 1-based global row number under ``order``.

    ``order`` must be a total order (include a unique tie-break column):
    range partitioning guarantees every key in partition *i* sorts
    before every key in partition *i+1*, so with unique keys the
    concatenation of sorted partitions IS the global sort; equal keys
    straddling a boundary would get an arbitrary relative numbering.

    ``total_col`` additionally attaches the GLOBAL row count to every
    row — it falls out of the same constant-size offsets frame for
    free, so callers that need rn + total (ntile banding) avoid a
    separate count aggregation and broadcast join.
    """
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    d = (
        df.repartitionByRange(num_partitions, *order)
        .sortWithinPartitions(*order)
        .withColumn("__pid", F.spark_partition_id())
    )
    local = Window.partitionBy("__pid").orderBy(*order)
    # Pin ONCE at the branch point: the offsets branch must see the
    # SAME partition boundaries as the data branch — two separate
    # executions of a range partitioner re-sample them, and without the
    # pin the plan also scans+shuffles the input twice. The checkpoint
    # is LAZY: building the query runs no job. The first action
    # materializes `d`'s blocks, and the tiny offsets aggregate and the
    # probe side both read them. An eager barrier on the offsets
    # relation measured 8-10% slower (interleaved A/B at sf0.1) and the
    # duplicate compute it guarded against never fired locally (the
    # block manager's getOrCompute de-dupes concurrent readers).
    d = d.withColumn(
        "__lrn", F.row_number().over(local).cast("long")
    ).localCheckpoint(eager=False)
    # partition sizes fall out of the local numbering: max local rn
    counts = d.groupBy("__pid").agg(F.max("__lrn").alias("__cnt"))
    # running sum over ≤ num_partitions rows — constant-size frame, the
    # one place a global window is safe by construction
    prev = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    proj = [
        F.col("__pid"),
        F.coalesce(F.sum("__cnt").over(prev), F.lit(0)).alias("__off"),
    ]
    if total_col is not None:
        whole = Window.orderBy("__pid").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        proj.append(F.sum("__cnt").over(whole).alias(total_col))
    offsets = counts.select(*proj)
    return (
        d.join(F.broadcast(offsets), "__pid")
        .withColumn(rn_col, F.col("__lrn") + F.col("__off"))
        .drop("__pid", "__lrn", "__off")
    )


def with_grouped_row_number(
    df: DataFrame,
    group_cols: list[str],
    order: list[Column],
    rn_col: str = "rn",
    cnt_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-group 1-based row number under ``order`` WITHOUT a
    group-keyed window: ``Window.partitionBy(group).orderBy(...)``
    funnels each group through ONE task, which for a low-cardinality
    group key (l_returnflag has 3 values) serializes the whole table
    on as many cores (guide §2.5 — the skew is structural, AQE cannot
    split a single key's window). Instead: range-partition by
    (group, order) — each group occupies a RUN of partitions, sorted —
    then per-group rank = local rank + the number of same-group rows
    in preceding partitions (a constant-size offsets frame, exactly
    the :func:`with_global_row_number` construction keyed by group).
    Ties straddling a partition boundary get an arbitrary relative
    numbering (same caveat as the global form); the VALUE at any rank
    is unaffected. ``cnt_col`` attaches the group's total row count —
    it falls out of the same offsets frame for free.

    Contract: ``group_cols`` must be LOW-cardinality (the structural-
    skew escape is precisely for hot few-valued keys) — the offsets
    broadcast is ≤ partitions × distinct groups rows. A
    high-cardinality group key has no skew problem in the first
    place; use a plain grouped window there."""
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    gcols = [F.col(g) for g in group_cols]
    d = (
        df.repartitionByRange(num_partitions, *gcols, *order)
        .sortWithinPartitions(*gcols, *order)
        .withColumn("__pid", F.spark_partition_id())
    )
    local = Window.partitionBy("__pid", *group_cols).orderBy(*order)
    d = d.withColumn(
        "__lrn", F.row_number().over(local).cast("long")
    ).localCheckpoint(eager=False)  # same branch-point pin as above
    counts = d.groupBy("__pid", *group_cols).agg(
        F.max("__lrn").alias("__cnt")
    )
    prev = (
        Window.partitionBy(*group_cols)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    proj = [
        F.col("__pid"),
        *gcols,
        F.coalesce(F.sum("__cnt").over(prev), F.lit(0)).alias("__off"),
    ]
    if cnt_col is not None:
        whole = (
            Window.partitionBy(*group_cols)
            .orderBy("__pid")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        proj.append(F.sum("__cnt").over(whole).alias(cnt_col))
    offsets = counts.select(*proj)
    return (
        d.join(F.broadcast(offsets), ["__pid", *group_cols])
        .withColumn(rn_col, F.col("__lrn") + F.col("__off"))
        .drop("__pid", "__lrn", "__off")
    )


def with_global_cumsum(
    df: DataFrame,
    order: list[Column],
    value_col: str,
    cum_col: str = "cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append the inclusive running sum of ``value_col`` under the
    global ``order`` — the distributed prefix-sum: local running sums
    inside sorted range partitions, plus each partition's offset (the
    running total of preceding partitions' sums, a constant-size
    frame). Same total-order requirement as
    :func:`with_global_row_number`. The running sum keeps the NATIVE
    type of Spark's SUM over ``value_col`` (long for integral input,
    double/decimal otherwise) — a mid-computation long cast would
    truncate fractional local sums BEFORE the partition offsets are
    added and corrupt the cumsum for non-integer values."""
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    d = (
        df.repartitionByRange(num_partitions, *order)
        .sortWithinPartitions(*order)
        .withColumn("__pid", F.spark_partition_id())
    )
    local = (
        Window.partitionBy("__pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # same pin rationale as with_global_row_number: one execution of
    # the range partitioner shared by both branches, through a lazy
    # checkpoint on `d` that the first action materializes
    d = d.withColumn("__lcum", F.sum(value_col).over(local)).localCheckpoint(
        eager=False
    )
    # re-aggregating the checkpointed frame is a read of materialized
    # rows, not a second scan+shuffle of the input (and unlike
    # max(__lcum), stays correct for negative values)
    totals = d.groupBy("__pid").agg(F.sum(value_col).alias("__tot"))
    prev = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__pid", F.coalesce(F.sum("__tot").over(prev), F.lit(0)).alias("__off")
    )
    return (
        d.join(F.broadcast(offsets), "__pid")
        .withColumn(cum_col, F.col("__lcum") + F.col("__off"))
        .drop("__pid", "__lcum", "__off")
    )


def pack_by_budget(
    df: DataFrame,
    order: list[Column],
    size_col: str,
    budget: int,
    shard_col: str = "shard",
) -> DataFrame:
    """Assign each row to an output shard by start-offset packing: a
    row starting at running offset *o* (exclusive prefix sum of sizes
    under the global order) lands in shard ``o div budget``. The
    training-data sharding primitive — deterministic, order-preserving,
    one distributed prefix-sum, no sequential driver loop. Rows wider
    than the budget simply own their shard(s); shard boundaries are
    start-based so the assignment is a pure expression, exactly
    reproducible in a windowed-SUM SQL mirror."""
    d = with_global_cumsum(df, order, size_col, cum_col="__cum")
    # floor((cum - size) / budget) rather than a SQL-string `div`:
    # identical for the integral sizes the shard packer targets, but
    # Column-based (no f-string breakage on names needing backticks)
    # and well-defined for the fractional cumsums with_global_cumsum
    # now preserves (IntegralDivide rejects double operands). Offsets
    # are non-negative, so floor == integer division here.
    return d.withColumn(
        shard_col,
        F.floor((F.col("__cum") - F.col(size_col)) / F.lit(budget)).cast("long"),
    ).drop("__cum")


def ntile_expr(rn: Column, total: Column, n: int) -> Column:
    """SQL NTILE(n) from a global row number: the first ``total % n``
    buckets take ``ceil(total/n)`` rows, the rest ``floor(total/n)`` —
    a pure expression, no windowing. (Double-precision division keeps
    this exact to 2^53 rows — absurd headroom for a bucket count.)"""
    big = F.floor(total / n) + 1  # ceil size; only used when total % n != 0
    small = F.floor(total / n)
    r = total % n  # buckets that get the big size
    cut = r * big  # rows covered by the big buckets
    return (
        F.when(rn <= cut, F.ceil(rn / big))
        .otherwise(r + F.ceil((rn - cut) / small))
        .cast("long")
    )


def global_ntile(
    df: DataFrame,
    order: list[Column],
    n: int,
    band_col: str = "band",
) -> DataFrame:
    """NTILE(n) over a global order without a single-partition window:
    global row number (distributed, see above) + the closed-form bucket
    expression. The total count rides in the same offsets broadcast
    the row numbering already pays for (``total_col``), so there is no
    separate count aggregation or second broadcast join."""
    numbered = with_global_row_number(
        df, order, rn_col="__rn", total_col="__total"
    )
    return numbered.withColumn(
        band_col, ntile_expr(F.col("__rn"), F.col("__total"), n)
    ).drop("__rn", "__total")
