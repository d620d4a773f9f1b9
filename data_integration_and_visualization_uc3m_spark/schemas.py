"""Schema registry — explicit StructTypes for every table the engine touches.

The reference's most load-bearing artifact is its DDL
(``database/initdb/schema.sql:23-105``): fixed declared schemas with
NOT NULL / PK / FK / UNIQUE constraints. Spark has no native constraint
enforcement, so the contract splits into two parts:

1. the star's natural keys and FK graph here (its DDL, with the column
   types and NOT NULLs, is ``plans.star.ddl_statements``), and
2. the validation operators in :mod:`..operators.validate` (uniqueness,
   FK integrity, range plausibility), which return violation sets.

Testdata schemas mirror the driver-generated parquet at
``/root/testdata/sf*/`` so ingest never relies on runtime inference
(inference is fine at unit scale, wrong at 100 TB — it costs an extra
pass over the data and can flip types between partitions).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- Star schema (reference: database/initdb/schema.sql:23-105) -----------

# Natural keys (UNIQUE constraints, schema.sql:57,81,104) — used by the
# upsert sink and the uniqueness validators.
NATURAL_KEYS = {
    "country": ["country_iso3_id"],
    "year": ["year_id"],
    "population": ["country_iso3_id", "year_id"],
    "crime": ["country_iso3_id", "year_id"],
    "immigration": ["country_iso3_id", "year_id"],
}

# Columns that make each table's first-wins pick on its natural key
# deterministic (the reference keeps pandas file order, etl:199-203).
ORDER_BY = {
    "country": ["country_name"],
    "year": None,
    "population": ["population"],
    "crime": ["convicts_per_100000"],
    "immigration": ["immigration_per_100000"],
}

# FK graph (schema.sql:44-54, 68-78, 91-101) + load order (etl:377-380).
FOREIGN_KEYS = {
    "population": {"country_iso3_id": "country", "year_id": "year"},
    "crime": {"country_iso3_id": "country", "year_id": "year"},
    "immigration": {"country_iso3_id": "country", "year_id": "year"},
}
LOAD_ORDER = ["country", "year", "population", "crime", "immigration"]

# The year dimension (schema.sql:111-117 seeds 2018-2022); the star
# facts keep rows from its first year on (etl:195-196, :242).
YEARS = range(2018, 2023)

# --- Ingest shapes (reference raw inputs) ---------------------------------

# World Bank indicator rows (crime_immigration_etl.py:104-132): one nested
# struct column `country` — modeled as StructType, accessed via
# col("country.value"), never Python-side dict poking.
RAW_POPULATION = T.StructType(
    [
        T.StructField("countryiso3code", T.StringType(), True),
        T.StructField(
            "country",
            T.StructType(
                [
                    T.StructField("id", T.StringType(), True),
                    T.StructField("value", T.StringType(), True),
                ]
            ),
            True,
        ),
        T.StructField("value", T.StringType(), True),
        T.StructField("year_id", T.IntegerType(), True),
    ]
)

# UN persons-convicted XLSX shape (crime_immigration_etl.py:221-252;
# header on spreadsheet row 3, header=2 at :141).
RAW_CRIME = T.StructType(
    [
        T.StructField("Iso3_code", T.StringType(), True),
        T.StructField("Country", T.StringType(), True),
        T.StructField("Region", T.StringType(), True),
        T.StructField("Year", T.IntegerType(), True),
        T.StructField("Category", T.StringType(), True),
        T.StructField("Sex", T.StringType(), True),
        T.StructField("Age", T.StringType(), True),
        T.StructField("Indicator", T.StringType(), True),
        T.StructField("Unit of measurement", T.StringType(), True),
        T.StructField("VALUE", T.StringType(), True),
    ]
)

# Eurostat tps00176 linear CSV (only 3 of 24 columns consumed, etl:269).
RAW_IMMIGRATION_CONSUMED = ["geo", "TIME_PERIOD", "OBS_VALUE"]

# --- Driver testdata (TESTDATA.md; TPC-H-ish + events/documents/embeddings)

TESTDATA = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType(), True),
            T.StructField("r_name", T.StringType(), True),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType(), True),
            T.StructField("n_name", T.StringType(), True),
            T.StructField("n_regionkey", T.IntegerType(), True),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType(), True),
            T.StructField("c_name", T.StringType(), True),
            T.StructField("c_nationkey", T.IntegerType(), True),
            T.StructField("c_acctbal", T.DoubleType(), True),
            T.StructField("c_mktsegment", T.StringType(), True),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType(), True),
            T.StructField("s_name", T.StringType(), True),
            T.StructField("s_nationkey", T.IntegerType(), True),
            T.StructField("s_acctbal", T.DoubleType(), True),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType(), True),
            T.StructField("p_name", T.StringType(), True),
            T.StructField("p_brand", T.StringType(), True),
            T.StructField("p_type", T.StringType(), True),
            T.StructField("p_size", T.IntegerType(), True),
            T.StructField("p_retailprice", T.DoubleType(), True),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType(), True),
            T.StructField("o_custkey", T.LongType(), True),
            T.StructField("o_orderstatus", T.StringType(), True),
            T.StructField("o_totalprice", T.DoubleType(), True),
            T.StructField("o_orderdate", T.TimestampType(), True),
            T.StructField("o_orderpriority", T.StringType(), True),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType(), True),
            T.StructField("l_partkey", T.LongType(), True),
            T.StructField("l_suppkey", T.LongType(), True),
            T.StructField("l_linenumber", T.IntegerType(), True),
            T.StructField("l_quantity", T.DoubleType(), True),
            T.StructField("l_extendedprice", T.DoubleType(), True),
            T.StructField("l_discount", T.DoubleType(), True),
            T.StructField("l_tax", T.DoubleType(), True),
            T.StructField("l_returnflag", T.StringType(), True),
            T.StructField("l_linestatus", T.StringType(), True),
            T.StructField("l_shipdate", T.TimestampType(), True),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType(), True),
            # ENGINE CONTRACT type. The at-rest parquet unit has varied
            # across testdata generations (NANOS int64 vs MICROS ntz);
            # sources.readers.load_table normalizes whatever is on disk
            # to this microsecond TimestampType.
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("user_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("props", T.StringType(), True),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("source", T.StringType(), True),
            T.StructField("n_chars", T.LongType(), True),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType(), True),
            T.StructField("embedding", T.ArrayType(T.FloatType()), True),
            T.StructField("label", T.IntegerType(), True),
        ]
    ),
}
