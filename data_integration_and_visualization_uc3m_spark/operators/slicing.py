"""Ordering-dependent operators: slices, top-k, buckets, windows
(SURVEY.md §2.8 + F8/C9).

pandas positional slices (``df[a:b]``, ``map-making/create-maps.py:22-24``)
are order-defined by file position; Spark DataFrames are unordered sets,
so every slice takes an EXPLICIT sort key (SURVEY §7.4.6) and a unique
tiebreaker to make results deterministic across engines and runs. The
F8 row-range slice itself is a ``row_number`` filter inline in the
registered ``deterministic_slice`` query.

Scale notes: row_number over a global orderBy is a single-partition
window at the limit — fine for top-of-report slices (k rows), wrong for
whole-table ranking. For global ranks at 100 TB use repartitionByRange +
per-partition offsets, or restrict to per-group windows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k(df: DataFrame, order_by: list[Column], k: int) -> DataFrame:
    """§2.8 — top-k under a deterministic order ("biggest bubbles" for the
    viz layer). orderBy+limit lets Spark run a per-partition TakeOrdered
    then merge k·p rows on the driver — no global sort."""
    return df.orderBy(*order_by).limit(k)


def top_k_per_group(
    df: DataFrame, group_by: list[str], order_by: list[Column], k: int
) -> DataFrame:
    """Top-k within each group — per-group window, shuffles once on the
    group key; no global ordering bottleneck."""
    w = Window.partitionBy(*group_by).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def bucketize(
    col: Column | str, edges: list[float], labels: list[str] | None = None
) -> Column:
    """C9 — value bucketing (marker color/size buckets,
    ``map-making/create-maps.py:15-18,31``). Half-open buckets
    ``[edges[i], edges[i+1])``; values below the first edge or at/above
    the last get NULL (caller decides the policy). A chained CASE WHEN —
    codegen fuses it into one pass, same cost as an arithmetic column."""
    c = F.col(col) if isinstance(col, str) else col
    expr = F.lit(None)
    for i in range(len(edges) - 1):
        lab = labels[i] if labels else str(i)
        cond = (c >= edges[i]) & (c < edges[i + 1])
        expr = F.when(cond, F.lit(lab)) if i == 0 else expr.when(cond, F.lit(lab))
    return expr


def running_agg(
    df: DataFrame,
    group_by: list[str],
    order_by: list[Column],
    agg_col: Column,
    out: str,
) -> DataFrame:
    """§2.8 — running (cumulative) aggregate per group; the engine-side
    primitive backing "running totals" reports."""
    w = (
        Window.partitionBy(*group_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out, F.sum(agg_col).over(w))


def equidepth_buckets(
    df: DataFrame,
    group_by: list[str],
    order_by: list[Column],
    n_buckets: int,
    out: str = "bucket",
) -> DataFrame:
    """Exact equi-depth bucketing per group: rank rows under a
    deterministic total order (callers include a unique tiebreaker,
    per this module's slice convention) and assign
    ``bucket = (rank-1)·n_buckets div count`` — bucket sizes differ by
    at most one, with no percentile-interpolation semantics to
    disagree on across engines (integer arithmetic only).

    One shuffle on the group key; the window sorts within each group.
    For a GLOBAL equi-depth histogram at 100 TB don't feed this one
    giant group — range-repartition on the order key and offset
    per-partition ranks (the module docstring's global-rank recipe);
    the per-group form here is the shape reports actually use.
    """
    w = Window.partitionBy(*group_by).orderBy(*order_by)
    kw = Window.partitionBy(*group_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__cnt", F.count(F.lit(1)).over(kw))
        .withColumn(
            out,
            F.expr(f"(__rn - 1) * {n_buckets} div __cnt").cast("int"),
        )
        .drop("__rn", "__cnt")
    )


def global_rank(
    df: DataFrame,
    order_by: list[Column],
    out: str = "global_rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact GLOBAL rank under a deterministic total order without a
    single-partition window — the scale recipe this module's header
    points to, as real code.

    1. ``repartitionByRange`` on the order columns (range partitioner
       samples boundaries; equal keys land together, and the caller's
       unique tiebreaker makes every key distinct, so ranks are exact
       and deterministic REGARDLESS of where sampled boundaries fall),
    2. per-partition local ranks via a window partitioned on
       ``spark_partition_id()`` (no global shuffle to one partition),
    3. per-partition counts — a partition-count-sized aggregate —
       turned into cumulative offsets and broadcast back; global rank
       = offset + local rank.

    Cost: one range shuffle + one window sort per partition + a tiny
    broadcast join. The single-partition ``Window.orderBy`` this
    replaces serializes the whole table through one task at 100 TB.
    """
    ranged = (
        df.repartitionByRange(num_partitions, *order_by)
        if num_partitions
        else df.repartitionByRange(*order_by)
    )
    withpid = ranged.withColumn("__pid", F.spark_partition_id())
    w = Window.partitionBy("__pid").orderBy(*order_by)
    local = withpid.withColumn("__lrn", F.row_number().over(w))
    counts = (
        local.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    ow = (
        Window.orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "__pid",
        F.coalesce(F.sum("__n").over(ow), F.lit(0)).alias("__off"),
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(out, (F.col("__off") + F.col("__lrn")).cast("long"))
        .drop("__pid", "__lrn", "__off")
    )


def global_prefix_sum(
    df: DataFrame,
    order_by: list[Column],
    val_col: str,
    out: str = "prefix_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact INCLUSIVE global prefix sum under a deterministic total
    order without a single-partition window — global_rank's companion
    (rank is the prefix sum of 1): range-repartition on the (unique,
    tiebroken) order columns, per-partition running sums, then
    broadcast cumulative offsets of the partition TOTALS. The offset
    window runs over the partition-count relation (~#partitions
    rows), never the data. The workhorse behind byte-budgeted shard
    planning, offset-assembled file layouts, and any "where does my
    running total cross X" question at 100 TB.
    """
    ranged = (
        df.repartitionByRange(num_partitions, *order_by)
        if num_partitions
        else df.repartitionByRange(*order_by)
    )
    withpid = ranged.withColumn("__pid", F.spark_partition_id())
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = withpid.withColumn("__lsum", F.sum(val_col).over(w))
    totals = withpid.groupBy("__pid").agg(F.sum(val_col).alias("__t"))
    ow = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "__pid",
        F.coalesce(F.sum("__t").over(ow), F.lit(0)).alias("__off"),
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(out, (F.col("__off") + F.col("__lsum")).cast("long"))
        .drop("__pid", "__lsum", "__off")
    )
