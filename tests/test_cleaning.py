"""C1-C6 scalar cleaning operators — adversarial corners from
FIXTURES.md §F6 and SURVEY §7.4."""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import functions as F

from data_integration_and_visualization_uc3m_spark.operators import cleaning


def one_col(spark, values, dtype="string", name="v"):
    return spark.createDataFrame([(v,) for v in values], f"{name} {dtype}")


def test_normalize_string_idempotent(spark):
    df = one_col(spark, ["  MiXeD Case  ", "ESPAÑA ", None, "a"])
    once = df.select(cleaning.normalize_string("v").alias("n")).collect()
    twice = df.select(
        cleaning.normalize_string(cleaning.normalize_string("v")).alias("n")
    ).collect()
    assert once == twice
    assert once[0].n == "mixed case"
    assert once[1].n == "españa"
    assert once[2].n is None


def test_coerce_numeric_null_on_garbage(spark):
    # to_numeric(errors="coerce") parity: whitespace, exponent, garbage
    df = one_col(spark, ["42", " 7 ", "1.5e6", "n/a", "", None, "-3.25"])
    got = [r.n for r in df.select(cleaning.coerce_numeric("v").alias("n")).collect()]
    assert got == [42.0, 7.0, 1500000.0, None, None, None, -3.25]


def test_missing_marker_before_coercion(spark):
    # Eurostat ':' → 0 BEFORE the cast (etl:278-280) — order matters
    df = one_col(spark, [":", " : ", "12.5", "junk"])
    expr = cleaning.coerce_numeric(cleaning.replace_missing_marker("v"), "double")
    got = [r.n for r in df.select(expr.alias("n")).collect()]
    assert got == [0.0, 0.0, 12.5, None]


def test_strip_thousands_separators(spark):
    # report §3.1.1: "1.000.000" forms; genuine decimals untouched
    df = one_col(spark, ["1.000.000", "1,000,000", "3.14", "12", "-2,500,000"])
    expr = cleaning.coerce_numeric(cleaning.strip_thousands_separators("v"))
    got = [r.n for r in df.select(expr.alias("n")).collect()]
    assert got == [1000000.0, 1000000.0, 3.14, 12.0, -2500000.0]


def test_round_half_up_ties(spark):
    # SURVEY §7.4.1: HALF_UP on decimals — 8.125 → 8.13 (pandas' even
    # rounding would give 8.12); negative ties go away from zero
    df = spark.createDataFrame(
        [(Decimal("8.125"),), (Decimal("8.135"),), (Decimal("-8.125"),)],
        "v decimal(10,3)",
    )
    got = [r.n for r in df.select(cleaning.round_half_up("v", 2).alias("n")).collect()]
    assert got == [Decimal("8.13"), Decimal("8.14"), Decimal("-8.13")]


def test_to_integer_rounded(spark):
    df = spark.createDataFrame([(1234.6,), (1234.4,), (-2.5,)], "v double")
    got = [r.n for r in df.select(cleaning.to_integer_rounded("v").alias("n")).collect()]
    assert got == [1235, 1234, -3]


def test_rename_and_project(spark):
    df = spark.createDataFrame([(1, "x", 2.0)], "a int, b string, c double")
    out = cleaning.project(
        cleaning.rename_columns(df, {"a": "id", "b": "name"}), ["id", "name"]
    )
    assert out.columns == ["id", "name"]
