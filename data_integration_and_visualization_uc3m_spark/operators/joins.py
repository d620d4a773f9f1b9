"""Join operators (SURVEY.md §2.5, J1-J4).

Physical strategy notes (the 100 TB view):
- Lookup/dimension joins broadcast (dims are tiny vs facts); the
  explicit ``F.broadcast`` hint documents intent even where
  autoBroadcastJoinThreshold would pick it anyway.
- Fact-fact joins shuffle on their keys; AQE handles skew splitting.
  Callers co-partitioning several joins on one key should
  ``repartition(key)`` once and reuse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class CardinalityViolation(ValueError):
    """Raised when a join side declared unique has duplicate keys."""


def assert_unique_keys(df: DataFrame, keys: list[str], side: str = "build") -> None:
    """V5 — join-cardinality validation (``validate="many_to_one"``,
    ``crime_immigration_etl.py:288``): the build side must be unique on
    the join keys. One aggregation pass; raises on violation.

    Scale note: this is a deliberate extra job (like pandas' validate=).
    At 100 TB, run it as part of the pipeline's validation stage, or
    skip for sources with a declared-unique contract.
    """
    # count vs distinct-count in ONE aggregation — cheaper than
    # groupBy+filter (no per-group row materialization, ~2× faster at
    # sf0.1) and still exact.
    row = df.select(
        (F.count(F.lit(1)) - F.count_distinct(*[F.col(k) for k in keys])).alias("d")
    ).first()
    if row.d:
        raise CardinalityViolation(
            f"{side} side has duplicate keys on {keys} (many-to-one violated)"
        )


def validated_join(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str],
) -> DataFrame:
    """J1 — inner equi-join with many-to-one validation.

    Reference: ``immig.merge(population, on=[...], how="inner",
    validate="many_to_one")`` at ``crime_immigration_etl.py:284-289`` —
    enriches a fact with a dimension while semi-filtering to known keys.
    """
    assert_unique_keys(dim, on, side="dim")
    return fact.join(F.broadcast(dim), on=on, how="inner")


def lookup_join_with_fallback(
    df: DataFrame,
    lookup: DataFrame,
    key_expr,
    out_col: str,
) -> DataFrame:
    """J2/J3 — broadcast dictionary-lookup join with fallback-to-input.

    Reference: ``COUNTRIES_MAP.get(name.strip().lower(), name)`` at
    ``crime_immigration_etl.py:31-34,177-179`` and the ISO2→ISO3
    conversion at ``:271-276``. The ``.get(k, default)`` fallback — the
    part ports forget — becomes ``coalesce(canonical, original)`` after a
    left join against the broadcast lookup table.

    ``key_expr`` is the (already-normalized) Column to look up in
    ``lookup``'s ``alias`` column; its ``canonical`` column is the value.
    """
    probe = df.withColumn("__lk", key_expr)
    lk = F.broadcast(
        lookup.select(
            F.col("alias").alias("__lk"), F.col("canonical").alias("__lv")
        )
    )
    joined = probe.join(lk, on="__lk", how="left")
    return joined.withColumn(out_col, F.coalesce(F.col("__lv"), F.col("__lk"))).drop(
        "__lk", "__lv"
    )


def semi_join(df: DataFrame, keys_df: DataFrame, on: list[str]) -> DataFrame:
    """J4 — FK semi-join (keep rows whose key exists in the dim), the
    load-order/FK semantics of ``schema.sql:44-54`` + ``etl:377-380``."""
    return df.join(keys_df, on=on, how="left_semi")


def anti_join(df: DataFrame, keys_df: DataFrame, on: list[str]) -> DataFrame:
    """J4 complement — rows violating FK (used by validators, V3)."""
    return df.join(keys_df, on=on, how="left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """As-of join (Spark has no native one): for each left row, the
    latest right row with ``right_ts <= left_ts`` within the ``on`` keys.

    Implementation is the scalable union+window pattern, NOT a range
    self-join: tag both sides, union, and take the running max of the
    right side's (ts, values) over a window ordered by (ts, side) with
    the right side sorting first at equal timestamps (so ties satisfy
    ``<=`` like the SQL definition). One shuffle on the key — no O(n·m)
    per-key pair explosion, which is what kills range joins at 100 TB.

    Returns left rows + ``asof_<value>`` columns (null when no prior
    right row exists).
    """
    from pyspark.sql import Window

    lt = left.withColumn("__side", F.lit(1)).withColumn("__ts", F.col(left_ts))
    rt = right.withColumn("__side", F.lit(0)).withColumn("__ts", F.col(right_ts))
    lcols = set(left.columns)
    rcols = set(right.columns)
    all_cols = list(dict.fromkeys(left.columns + right.columns))
    sel_l = [
        (F.col(c) if c in lcols else F.lit(None)).alias(c) for c in all_cols
    ] + [F.col("__side"), F.col("__ts")]
    sel_r = [
        (F.col(c) if c in rcols else F.lit(None)).alias(c) for c in all_cols
    ] + [F.col("__side"), F.col("__ts")]
    unioned = lt.select(*sel_l).unionByName(rt.select(*sel_r))
    w = (
        Window.partitionBy(*on)
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = unioned
    for v in value_cols:
        out = out.withColumn(
            f"asof_{v}",
            F.last(F.when(F.col("__side") == 0, F.col(v)), ignorenulls=True).over(w),
        )
    return out.filter(F.col("__side") == 1).select(
        *[c for c in left.columns], *[f"asof_{v}" for v in value_cols]
    )


def interval_overlap_pairs(
    df: DataFrame,
    id_col: str,
    start_col: str,
    end_col: str,
    cell: int,
    max_per_cell: int | None = None,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Banded interval-overlap self-join: all pairs of intervals with
    strictly positive overlap, each pair emitted EXACTLY ONCE, as an
    equi-join — never a BroadcastNestedLoopJoin range join.

    Intervals are integer ``[start, end]`` (any unit; epoch micros in
    practice). Each interval explodes into the fixed-width grid cells
    it covers (bounded fan-out = span/cell); candidates equi-join on
    the cell id; the exact predicate then keeps true overlaps, and the
    FIRST-SHARED-CELL rule — keep a pair only in the cell containing
    ``greatest(a.start, b.start)``, which every overlapping pair
    shares and is unique — dedups without a distinct shuffle (same
    trick as dedup.band_pairs' first-shared-band emission).

    Skew and density: the join is quadratic within a cell, and the
    TRUE pair count of unkeyed all-pairs overlap is itself quadratic
    in interval density — no plan fixes an output that grows n².
    At scale, key the join: ``partition_cols`` restricts pairs to
    intervals sharing those columns (per-customer, per-device, …),
    which is what bounds both candidates and output in practice.
    ``max_per_cell`` additionally drops over-full (partition, cell)
    buckets up front (the df-cap discipline of
    dedup_jaccard_df_capped); pick ``cell`` so typical occupancy is
    small and cap the pathological ones explicitly rather than letting
    one hot cell own the job's runtime.

    Returns ``partition_cols + (a_id, b_id, overlap)`` with
    ``a_id < b_id`` canonical ordering and
    ``overlap = least(ends) - greatest(starts)``.

    No reference counterpart (north-star family: the range-join
    optimization Databricks/pgRange do natively, re-expressed as
    banding so plain hash joins carry it).
    """
    partition_cols = list(partition_cols or [])
    cells = df.select(
        *partition_cols,
        F.col(id_col).alias("iid"),
        F.col(start_col).alias("s"),
        F.col(end_col).alias("e"),
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / F.lit(cell)),
                F.floor(F.col(end_col) / F.lit(cell)),
            )
        ).alias("cell"),
    )
    keys = [*partition_cols, "cell"]
    if max_per_cell is not None:
        sized = (
            cells.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") <= max_per_cell)
            .select(*keys)
        )
        cells = cells.join(sized, keys)
    a = cells.select(
        *keys,
        F.col("iid").alias("a_id"),
        F.col("s").alias("a_s"),
        F.col("e").alias("a_e"),
    )
    b = cells.select(
        *keys,
        F.col("iid").alias("b_id"),
        F.col("s").alias("b_s"),
        F.col("e").alias("b_e"),
    )
    gstart = F.greatest(F.col("a_s"), F.col("b_s"))
    lend = F.least(F.col("a_e"), F.col("b_e"))
    return (
        a.join(b, keys)
        .filter(
            (F.col("a_id") < F.col("b_id"))
            & (F.col("a_s") < F.col("b_e"))
            & (F.col("b_s") < F.col("a_e"))
            & (F.floor(gstart / F.lit(cell)) == F.col("cell"))
        )
        .select(
            *partition_cols,
            "a_id",
            "b_id",
            (lend - gstart).alias("overlap"),
        )
    )


def grid_nearest_neighbor(
    points: DataFrame,
    probes: DataFrame,
    cell: int,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Bounded-radius nearest-neighbor join on a 2-D integer grid —
    the spatial-join shape at scale: band both sides into square
    cells, explode each probe to its 3×3 cell neighborhood (bounded
    ×9 fan-out), equi-join on the cell, and take the per-probe
    argmin of the EXACT integer squared distance (deterministic
    tiebreak on the point id). Matches beyond the neighborhood are
    out of contract (bounded-radius semantics — the standard grid
    trade; pick ``cell`` ≥ the radius you care about). No trig, no
    floats: planar integer coordinates (micro-degrees in practice)
    keep every distance exact and engine-identical.

    Returns one row per probe that has ≥1 candidate:
    ``(probe_id, point_id, d2)``.
    """
    from pyspark.sql import Window

    pc = points.select(
        F.col(id_col).alias("point_id"),
        F.col(x_col).alias("px"),
        F.col(y_col).alias("py"),
        F.expr(f"{x_col} div {cell}").alias("cx"),
        F.expr(f"{y_col} div {cell}").alias("cy"),
    )
    neigh = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(x_col).alias("qx"),
        F.col(y_col).alias("qy"),
        F.explode(
            F.sequence(
                F.expr(f"{x_col} div {cell}") - 1,
                F.expr(f"{x_col} div {cell}") + 1,
            )
        ).alias("cx"),
    ).select(
        "probe_id",
        "qx",
        "qy",
        "cx",
        F.explode(
            F.sequence(
                F.expr(f"qy div {cell}") - 1,
                F.expr(f"qy div {cell}") + 1,
            )
        ).alias("cy"),
    )
    d2 = (F.col("px") - F.col("qx")) * (F.col("px") - F.col("qx")) + (
        F.col("py") - F.col("qy")
    ) * (F.col("py") - F.col("qy"))
    cand = neigh.join(pc, ["cx", "cy"]).select(
        "probe_id", "point_id", d2.cast("long").alias("d2")
    )
    w = Window.partitionBy("probe_id").orderBy("d2", "point_id")
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
