"""Filter / predicate operators (SURVEY.md §2.4, F1-F8).

All are plain Column predicates so Catalyst can push them into the
parquet scan (PushedFilters) and fuse conjuncts in one codegen pass —
the reference hand-orders its masks (``crime_immigration_etl.py:236-252``);
here the optimizer does it.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def anti_join_exclude(df: DataFrame, exclude: DataFrame, on: str) -> DataFrame:
    """F1 — exclusion list as a table (drop World Bank "Aggregates"
    pseudo-countries, ``crime_immigration_etl.py:157-159``; the list is
    data-driven in the reference, fetched at runtime at ``:98-102``).
    left_anti keeps rows with no match; Catalyst broadcasts the small side."""
    return df.join(F.broadcast(exclude), on=on, how="left_anti")


def valid_code_length(col: Column | str, length: int) -> Column:
    """F2/F3 — string-length + null guard (ISO3 validity at
    ``crime_immigration_etl.py:165-168``, ISO2 at ``:273-275`` which also
    drops Eurostat aggregates like ``EU27_2020``)."""
    c = _c(col)
    return c.isNotNull() & (F.length(c) == length)


def non_null_nested(struct_col: str, field: str) -> Column:
    """F4 — non-null on plain and nested struct fields
    (``country.notna()`` + ``x.get("value") is not None``,
    ``crime_immigration_etl.py:171-174``) — struct access, no lambda."""
    return F.col(struct_col).isNotNull() & F.col(f"{struct_col}.{field}").isNotNull()


def in_range(col: Column | str, low=None, high=None) -> Column:
    """F5 — numeric range predicates (``population > 0``, ``VALUE >= 0``,
    ``year_id >= 2018`` at ``crime_immigration_etl.py:185,196,215-216,242``)."""
    c = _c(col)
    pred = F.lit(True)
    if low is not None:
        pred = pred & (c >= low)
    if high is not None:
        pred = pred & (c <= high)
    return pred


def drop_null_rows(df: DataFrame, subset: list[str]) -> DataFrame:
    """F6 — null-drop after coercion (``dropna(subset=...)``,
    ``crime_immigration_etl.py:188,218,281``)."""
    return df.na.drop(subset=subset)


def conjunctive_slice(df: DataFrame, predicates: Iterable[Column]) -> DataFrame:
    """F7 — N-way conjunctive equality slice (the reference's flagship
    7-mask filter, ``crime_immigration_etl.py:236-252``). One ``filter``
    with an AND-fold; Catalyst reorders conjuncts and pushes the result
    into row-group pruning for free."""
    pred = F.lit(True)
    for p in predicates:
        pred = pred & p
    return df.filter(pred)
