"""Scalar cleaning / normalization operators (SURVEY.md §2.7, C1-C6).

Reference semantics re-expressed as JVM-side column expressions — no
Python UDFs anywhere (the reference's row-wise lambdas at
``crime_immigration_etl.py:31-34,172-179`` are all expressible with
built-ins, which is the single biggest idiomatic-Spark win over a port).

All functions return Column or DataFrame and stay inside whole-stage
codegen, so they fuse with surrounding filters/projections for free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalize_string(col: Column | str) -> Column:
    """C1 — ``lower ∘ trim`` normalization.

    Reference: ``crime_immigration_etl.py:31-34,177-179`` (strip().lower())
    and report §3.1.1 p.10 (lowercase, collapse spaces). Idempotent:
    applying twice equals applying once (property-tested).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(c))


def coerce_numeric(col: Column | str, to: str = "double") -> Column:
    """C2 — coercing numeric cast: NULL on unparseable input.

    Reference: ``pandas.to_numeric(errors="coerce")`` at
    ``crime_immigration_etl.py:182,214,278-280``. Spark 4 runs ANSI mode
    by default, where plain ``cast`` THROWS on malformed input — so the
    coercing contract (null-on-garbage, whitespace trimmed, exponent
    forms accepted) requires ``try_cast``. Corner cases in tests.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast(to)


def replace_missing_marker(
    col: Column | str, marker: str = ":", replacement=0
) -> Column:
    """C3 — missing-marker substitution BEFORE numeric coercion.

    Reference: Eurostat ``:`` = "not available" becomes 0 before
    ``to_numeric`` (``crime_immigration_etl.py:278-280``). The ordering
    matters: marker→0 first, then coerce, so markers don't become NULL.
    """
    c = F.col(col) if isinstance(col, str) else col
    # keep the replacement in the string domain: a typed literal would
    # make when/otherwise unify the whole column to that type, which
    # under ANSI mode throws on the not-yet-coerced values.
    return F.when(F.trim(c) == marker, F.lit(str(replacement))).otherwise(c)


def strip_thousands_separators(col: Column | str) -> Column:
    """C2 corner — normalize ``1.000.000`` / ``1,000,000`` forms before
    coercion (report §3.1.1 p.9: thousands separators in raw sources).

    Removes separator characters only when the string matches a grouped
    integer pattern, so genuine decimals like ``3.14`` are untouched.
    """
    c = F.col(col) if isinstance(col, str) else col
    grouped = r"^-?\d{1,3}([.,]\d{3})+$"
    return F.when(
        F.trim(c).rlike(grouped), F.regexp_replace(F.trim(c), r"[.,]", "")
    ).otherwise(c)


def round_half_up(col: Column | str, scale: int = 2) -> Column:
    """C5 — the project-wide 2-decimal rounding contract.

    Reference: ``crime_immigration_etl.py:255,297``; report §3.1.3 p.11.
    Documented decision (SURVEY §7.4.1): HALF_UP (away from zero), which is
    what Spark ``F.round`` and the DuckDB oracle both do on decimals —
    pandas' half-to-even is deliberately NOT reproduced; ties like 8.125
    differ and are covered by a dedicated fixture row.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c, scale)


def to_integer_rounded(col: Column | str, to: str = "long") -> Column:
    """C4 — integer rounding + downcast (``round(0).astype(int)``,
    ``crime_immigration_etl.py:191-192``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c, 0).cast(to)


def rename_columns(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """P2 — batch column rename (``rename(columns={...})``,
    ``crime_immigration_etl.py:162,221-227``)."""
    return df.withColumnsRenamed(mapping)


def project(df: DataFrame, keep: list[str]) -> DataFrame:
    """P1 — keep-list projection (``df[[...]]``,
    ``crime_immigration_etl.py:199-206,262,269,299``). Catalyst propagates
    the pruning into the parquet scan (check ReadSchema in .explain)."""
    return df.select(*keep)
