"""Data-quality / constraint validators (SURVEY.md §2.9, V1-V5).

The reference enforces constraints in Postgres DDL
(``database/initdb/schema.sql:23-105``); Spark has no native
constraints, so each becomes an explicit operator returning the
VIOLATION SET (empty DataFrame ⇒ constraint holds). Returning
violations instead of booleans keeps everything lazy and lets callers
count, sample, or quarantine without a second pass.

Scale: each validator is one scan + (at most) one shuffle-free or
map-side-combinable aggregation; FK checks broadcast the dim side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def not_null_violations(df: DataFrame, cols: list[str]) -> DataFrame:
    """V1 — NOT NULL (schema.sql:24-97). Rows where any listed column is
    null, tagged with the violated column names."""
    viol = F.array_compact(
        F.array(
            *[F.when(F.col(c).isNull(), F.lit(c)) for c in cols]
        )
    )
    return (
        df.withColumn("null_columns", viol)
        .filter(F.size("null_columns") > 0)
    )


def uniqueness_violations(df: DataFrame, keys: list[str]) -> DataFrame:
    """V2 — PK / composite UNIQUE (schema.sql:24,30,57,81,104).
    Key groups with count > 1; map-side partial aggregation makes this a
    single shuffle on the key."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def fk_violations(fact: DataFrame, dim: DataFrame, on: list[str]) -> DataFrame:
    """V3 — FK integrity (schema.sql:44-54,68-78,91-101): fact rows whose
    key has no match in the dim. left_anti with broadcast dim — no
    shuffle of the fact side when the dim fits in memory."""
    return fact.join(F.broadcast(dim.select(*on).dropDuplicates(on)), on=on, how="left_anti")


def range_violations(df: DataFrame, predicate: Column) -> DataFrame:
    """V4 — range/plausibility (``population > 0``, ``VALUE >= 0``,
    ``crime_immigration_etl.py:185,215``; report §3.1.3): rows where the
    plausibility predicate FAILS (null counts as failing)."""
    return df.filter(~F.coalesce(predicate, F.lit(False)))


def expectation_report(
    df: DataFrame,
    row_rules: dict[str, Column],
    unique: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Expectation-suite report: evaluate EVERY row-local rule in ONE
    scan (conditional sums in a single aggregation — at 100 TB this is
    one pass over the table, not one pass per rule), plus one
    aggregation per uniqueness rule (count vs count_distinct on the
    key set). Returns (rule, n_rows, n_violations, passed) per rule —
    the dashboard/circuit-breaker shape data-quality suites emit,
    complementing the per-violation row sets above (those say WHICH
    rows; this says HOW HEALTHY, cheaply).

    ``row_rules`` maps rule name → VIOLATION predicate (true = bad).
    """
    aggs = [F.count(F.lit(1)).alias("__n")]
    names = list(row_rules)
    for name in names:
        aggs.append(
            F.sum(F.when(row_rules[name], 1).otherwise(0))
            .cast("long")
            .alias(name)
        )
    one = df.agg(*aggs)
    stack_expr = ", ".join(f"'{n}', {n}" for n in names)
    report = one.selectExpr(
        f"stack({len(names)}, {stack_expr}) as (rule, n_violations)",
        "__n as n_rows",
    ).select("rule", "n_rows", "n_violations")
    for uname, keys in (unique or {}).items():
        urow = df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            (
                F.count(F.lit(1))
                - F.count_distinct(*[F.col(k) for k in keys])
            )
            .cast("long")
            .alias("n_violations"),
        ).select(F.lit(uname).alias("rule"), "n_rows", "n_violations")
        report = report.unionByName(urow)
    return report.withColumn("passed", F.col("n_violations") == 0)
