"""The reference star-schema pipeline, Spark-first (SURVEY.md §3.1).

Reference: ``crime_immigration_etl.py`` — eager pandas in three stages
(``transform_data`` :153-311) feeding a constrained Postgres star schema.
Here the whole E-T becomes ONE lazy DAG per output table; "execute"
happens at the sink. No step collects to the driver; every lookup is a
broadcast join; constraints are validation operators.

The transforms take raw-shaped DataFrames (schemas.RAW_*) so unit tests
feed adversarial fixtures (FIXTURES.md) and golden-test the outputs.
:func:`run_pass` is the pass's one entry point: it stages the star,
validates what it staged, and publishes only when clean.
"""

from __future__ import annotations

import os
import shutil
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import iso3166
from ..operators import cleaning, filters, joins, upsert
from ..schemas import FOREIGN_KEYS, LOAD_ORDER, NATURAL_KEYS, ORDER_BY, YEARS
from ..sources.readers import local_frame, year_dim

# ISO2 → ISO3 lookup over the FULL ISO 3166-1 universe (the pycountry
# analog the reference builds in crime_immigration_etl.py:16-28), incl.
# the Eurostat quirks it handles via country_converter (etl:271-276):
# EL → GRC (Greece), UK → GBR.
ISO2_TO_ISO3 = {a2: a3 for a2, a3, _, _ in iso3166.COUNTRIES}
ISO2_TO_ISO3.update(
    {alias.upper(): a3 for alias, a3 in iso3166.EXTRA_ALIASES}
)

ISO2_LOOKUP = T.StructType(
    [T.StructField("alias", T.StringType()), T.StructField("canonical", T.StringType())]
)


def iso2_lookup(spark: SparkSession) -> DataFrame:
    return local_frame(
        spark,
        [{"alias": k.lower(), "canonical": v} for k, v in sorted(ISO2_TO_ISO3.items())],
        ISO2_LOOKUP,
    )


def transform_country_and_population(
    raw_pop: DataFrame,
    aggregate_codes: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Country dim + population fact (etl:154-210).

    Steps (each cites the reference line it re-expresses):
    - drop World Bank aggregate pseudo-countries via anti-join
      (etl:157-159; the code list is data-driven, etl:98-102)
    - ISO3 validity: len==3 & not null (etl:165-168)
    - nested country.value non-null (etl:171-174) — struct access
    - name = lower∘trim (etl:177-179); the reference's alias map
      (etl:31-34) is not applied, so the World Bank name is kept
    - population = coerce(value) > 0, rounded to long (etl:182-192)
    - year_id int ≥ the first of ``schemas.YEARS`` (etl:195-196)
    - country dim = first-wins dedup on iso3, ordered by (name, year)
      for determinism (etl:199-203 keeps pandas file order; SURVEY §7.4.3)
    """
    df = filters.anti_join_exclude(
        raw_pop, aggregate_codes.withColumnRenamed("code", "countryiso3code"),
        on="countryiso3code",
    )
    df = df.filter(filters.valid_code_length("countryiso3code", 3))
    df = df.filter(filters.non_null_nested("country", "value"))
    df = df.withColumn("country_name", cleaning.normalize_string(F.col("country.value")))
    df = df.withColumn("population_raw", cleaning.coerce_numeric("value", "double"))
    df = df.filter(filters.in_range("population_raw", low=None) & (F.col("population_raw") > 0))
    df = df.withColumn("population", cleaning.to_integer_rounded("population_raw", "long"))
    df = df.withColumn("year_id", F.col("year_id").cast("int")).filter(
        F.col("year_id") >= YEARS[0]
    )
    df = df.withColumnRenamed("countryiso3code", "country_iso3_id")

    country = upsert.dedup_batch_first_wins(
        df.select("country_iso3_id", "country_name"),
        keys=["country_iso3_id"],
        order_by=["country_name"],
    )
    population = upsert.dedup_batch_first_wins(
        df.select("population", "country_iso3_id", "year_id"),
        keys=["country_iso3_id", "year_id"],
        order_by=["population"],
    )
    return country, population


def transform_crime(raw_crime: DataFrame) -> DataFrame:
    """Crime fact (etl:212-266): rename → ISO3 guard → coerce → range →
    the 7-way conjunctive slice (etl:236-252) → 2-decimal contract."""
    df = cleaning.rename_columns(
        raw_crime,
        {"Iso3_code": "country_iso3_id", "Country": "country_name", "Year": "year_id"},
    )
    df = df.filter(filters.valid_code_length("country_iso3_id", 3))
    df = df.withColumn("value_num", cleaning.coerce_numeric("VALUE", "double"))
    df = filters.drop_null_rows(df, ["value_num"])
    df = df.filter(F.col("value_num") >= 0)
    df = filters.conjunctive_slice(
        df,
        [
            F.col("Category") == "Total",
            F.col("Sex") == "Total",
            F.col("Indicator") == "Persons convicted",
            F.col("Age") == "Total",
            F.col("Unit of measurement") == "Rate per 100,000 population",
            F.col("year_id").cast("int") >= YEARS[0],
            F.col("Region") == "Europe",
        ],
    )
    return df.select(
        cleaning.round_half_up("value_num", 2)
        .cast("decimal(10,2)")
        .alias("convicts_per_100000"),
        "country_iso3_id",
        F.col("year_id").cast("int").alias("year_id"),
    )


def transform_immigration(
    raw_immig: DataFrame, population: DataFrame, iso2_to_iso3: DataFrame
) -> DataFrame:
    """Immigration fact (etl:268-303): project 3 of 24 cols → ISO2 guard
    (drops aggregates like EU27_2020) → ISO2→ISO3 broadcast lookup →
    ':'→0 then coerce (ORDER MATTERS, etl:278-280) → validated m2o join
    with population → rate = total/pop·100000 rounded (etl:292-297)."""
    df = cleaning.project(raw_immig, ["geo", "TIME_PERIOD", "OBS_VALUE"])
    df = df.filter(filters.valid_code_length("geo", 2))
    # inner lookup: an unknown ISO2 has no ISO3 — the reference's
    # converter returns 'not found', which fails the FK load
    df = df.withColumn("__lk", cleaning.normalize_string("geo")).join(
        F.broadcast(
            iso2_to_iso3.select(
                F.col("alias").alias("__lk"),
                F.col("canonical").alias("country_iso3_id"),
            )
        ),
        "__lk",
    ).drop("__lk")
    df = df.withColumn("year_id", F.col("TIME_PERIOD").cast("int"))
    df = df.withColumn(
        "immigration_total",
        cleaning.coerce_numeric(
            cleaning.replace_missing_marker("OBS_VALUE", ":", 0), "double"
        ),
    )
    df = filters.drop_null_rows(df, ["immigration_total"])
    enriched = joins.validated_join(
        df,
        population.select("country_iso3_id", "year_id", "population"),
        on=["country_iso3_id", "year_id"],
    )
    return enriched.select(
        cleaning.round_half_up(
            F.col("immigration_total") / F.col("population") * 100000, 2
        )
        .cast("decimal(10,2)")
        .alias("immigration_per_100000"),
        "country_iso3_id",
        "year_id",
    )


def validate_star(tables: dict[str, DataFrame]) -> dict[str, int]:
    """The DDL constraint surface (schema.sql:23-105) as one validation
    report: uniqueness on natural keys + FK integrity facts→dims.
    Returns violation counts (all zero ⇒ loadable).

    One query, not one job chain per counter: every table present is
    tagged ``(tbl, country_iso3_id, year_id)`` (NULL for a key column
    the table lacks) into one union, aggregated once over the grouping
    sets ``(tbl, iso3, year)``, ``(iso3)`` and ``(year)`` with a row
    count per table, then folded by one global ``agg``.
    ``{t}_dup_keys`` counts key groups holding more than one row of
    ``t`` (``validate.uniqueness_violations``); ``{fact}_fk_{dim}`` sums
    the fact's rows in key groups holding no ``dim`` row or keyed NULL —
    the ``left_anti`` semantics of ``validate.fk_violations``, which
    stays the per-row reference."""
    present = [t for t in LOAD_ORDER if t in tables]
    if not present:
        return {}
    keys = {"country_iso3_id": "string", "year_id": "int"}
    tagged = reduce(DataFrame.union, [
        tables[t].select(F.lit(t).alias("tbl"), *[
            (F.col(k) if k in NATURAL_KEYS[t] else F.lit(None)).cast(typ).alias(k)
            for k, typ in keys.items()
        ])
        for t in present
    ])
    groups = tagged.groupingSets(
        [["tbl", *keys], *[[k] for k in keys]], "tbl", *keys
    ).agg(
        *[F.grouping(c).alias(f"g_{c}") for c in ("tbl", *keys)],
        *[F.count(F.when(F.col("tbl") == t, 1)).alias(f"n_{t}") for t in present],
    )
    aggs = [
        F.count(F.when((F.col("g_tbl") == 0) & (F.col(f"n_{t}") > 1), 1))
        .alias(f"{t}_dup_keys")
        for t in present
    ]
    for fact, fks in FOREIGN_KEYS.items():
        for key, dim in fks.items():
            if fact in tables and dim in tables:
                orphan = (
                    (F.col("g_tbl") == 1) & (F.col(f"g_{key}") == 0)
                    & (F.col(key).isNull() | (F.col(f"n_{dim}") == 0))
                )
                aggs.append(
                    F.coalesce(F.sum(F.when(orphan, F.col(f"n_{fact}"))), F.lit(0))
                    .alias(f"{fact}_fk_{dim}")
                )
    row = groups.agg(*aggs).first()
    return {k: int(v) for k, v in row.asDict().items()}


class StarViolation(ValueError):
    """A staged star broke a constraint; ``report`` has every counter."""

    def __init__(self, report: dict[str, int]):
        super().__init__(f"star not published, violations: {report}")
        self.report = report


def run_pass(
    spark: SparkSession, sources: dict[str, DataFrame], root: str
) -> dict[str, int]:
    """One write-audit-publish pass of the star into the versioned
    parquet warehouse ``root/<table>`` from the raw frames ``raw_pop``,
    ``aggregates``, ``raw_crime`` and ``raw_immig`` — the reference's
    constrained load (etl:314-380), all-or-nothing across the star.

    Builds the five tables; stages each one's next snapshot (live ∪
    batch, ON CONFLICT DO NOTHING, first-wins on ``ORDER_BY``, which
    also absorbs the Eurostat feed repeating each (geo, year) per age
    definition); runs ``validate_star`` over the staged parquet, the
    bytes that would go live; and flips the five manifests only if
    every counter is zero, returning the report. Otherwise it removes
    its staged dirs (``vacuum`` keeps an orphan ahead of the live
    snapshot as a write in flight) and raises :class:`StarViolation`.
    One writer per warehouse, as per table."""
    country, population = transform_country_and_population(
        sources["raw_pop"], sources["aggregates"]
    )
    tables = {
        "country": country,
        "year": year_dim(spark),
        "population": population,
        "crime": transform_crime(sources["raw_crime"]),
        "immigration": transform_immigration(
            sources["raw_immig"], population, iso2_lookup(spark)
        ),
    }
    staged = {}
    try:
        for name in LOAD_ORDER:
            path = os.path.join(root, name)
            merged, expect = upsert._merged(
                path, tables[name], NATURAL_KEYS[name], ORDER_BY[name]
            )
            staged[name] = (path, upsert._write_snapshot(path, merged), expect)
        report = validate_star({
            name: spark.read.schema(tables[name].schema).parquet(os.path.join(path, snap))
            for name, (path, snap, _) in staged.items()
        })
        if any(report.values()):
            raise StarViolation(report)
    except BaseException:
        for path, snap, _ in staged.values():
            shutil.rmtree(os.path.join(path, snap), ignore_errors=True)
        raise
    for path, snap, expect in staged.values():
        upsert._commit_manifest(path, snap, expect)
    return report


def ddl_statements() -> list[str]:
    """The reference warehouse DDL (``database/initdb/schema.sql:23-117``)
    re-emitted in embedded-ANSI dialect (Derby-compatible): dimension
    PRIMARY KEYs, fact surrogate keys as GENERATED IDENTITY (the SERIAL
    analog, schema.sql:38,62,85), NOT NULL rate/population columns,
    both FOREIGN KEYs per fact with ON DELETE CASCADE
    (schema.sql:44-54,68-78,91-101), the per-fact UNIQUE
    (country, year) natural key (schema.sql:57,81,104), and the seeded
    year dimension ``schemas.YEARS`` (schema.sql:111-117). Statement
    order is LOAD_ORDER-safe: dims before facts.

    Executed live against embedded Derby in the warehouse e2e test —
    the constraints these statements declare are the same surface
    ``validate_star`` checks engine-side before a load.
    """
    fact = (
        "CREATE TABLE {name} ("
        "{name}_id INT NOT NULL GENERATED ALWAYS AS IDENTITY PRIMARY KEY, "
        "{measure} NOT NULL, "
        "country_iso3_id VARCHAR(3) NOT NULL, "
        "year_id INT NOT NULL, "
        "CONSTRAINT fk_{name}_country FOREIGN KEY (country_iso3_id) "
        "REFERENCES country (country_iso3_id) ON DELETE CASCADE, "
        "CONSTRAINT fk_{name}_year FOREIGN KEY (year_id) "
        'REFERENCES "year" (year_id) ON DELETE CASCADE, '
        "CONSTRAINT uq_{name} UNIQUE (country_iso3_id, year_id))"
    )
    return [
        "CREATE TABLE country ("
        "country_iso3_id VARCHAR(3) NOT NULL PRIMARY KEY, "
        "country_name VARCHAR(255) NOT NULL)",
        # YEAR is a reserved word in Derby (unlike Postgres) — quote
        # the identifier; consumers must quote it too.
        'CREATE TABLE "year" (year_id INT NOT NULL PRIMARY KEY)',
        fact.format(name="population", measure="population BIGINT"),
        fact.format(name="crime", measure="convicts_per_100000 NUMERIC(10, 2)"),
        fact.format(
            name="immigration", measure="immigration_per_100000 NUMERIC(10, 2)"
        ),
        'INSERT INTO "year" (year_id) VALUES '
        + ", ".join(f"({y})" for y in YEARS),
    ]
