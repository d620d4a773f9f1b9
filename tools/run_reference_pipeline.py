"""The COMPLETE reference pipeline, end to end, in one command.

What the reference does across ``crime_immigration_etl.py`` (extract →
transform → constrained Postgres load) and ``map-making/`` (query →
data.csv → plotly traces), this script does Spark-first in one run:

1. EXTRACT — the REAL Eurostat immigration CSV from the reference's
   ``data-sources/tps00176_linear_2_0.csv`` (public data; S5 linear
   layout, read with a declared schema). The World Bank population API
   and the UN crime XLSX need network / a blob the reference itself
   does not ship (``.MISSING_LARGE_BLOBS``), so those two inputs are
   DETERMINISTIC reference-shaped fixtures derived from the ISO
   3166-1 universe — clearly marked below, same schemas the live
   ingests produce.
2. TRANSFORM — the plans/star.py DAGs (full-universe alias
   normalization, coercion, 7-way slice, validated m2o join, rate
   arithmetic, HALF_UP decimal contract).
3. VALIDATE — validate_star (the DDL constraint surface engine-side).
4. LOAD — star.ddl_statements() on a LIVE embedded Derby warehouse,
   then FK-ordered atomic stage-then-swap loads (per-table
   commit/rollback, database-generated surrogate keys).
5. EGRESS — the viz layer's data.csv (hover text + positional size
   buckets) written via the K5 CSV sink, from a query over the LIVE
   warehouse tables.

Prints one JSON summary line. Usage:
    python tools/run_reference_pipeline.py [output_dir]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

EUROSTAT_CSV = "/root/reference/data-sources/tps00176_linear_2_0.csv"
URL = "jdbc:derby:memory:sg_pipeline;create=true"
PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(
        prefix="sg_pipeline_"
    )
    from py4j.java_gateway import java_import

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from data_integration_and_visualization_uc3m_spark.functions import iso3166
    from data_integration_and_visualization_uc3m_spark.plans import star
    from data_integration_and_visualization_uc3m_spark.schemas import (
        LOAD_ORDER,
        RAW_CRIME,
        RAW_POPULATION,
        YEARS,
    )
    from data_integration_and_visualization_uc3m_spark.session import get_spark
    from data_integration_and_visualization_uc3m_spark.sinks.writers import (
        jdbc_atomic_append,
        write_viz_csv,
    )
    from data_integration_and_visualization_uc3m_spark.sources.readers import (
        read_csv,
    )

    spark = get_spark("reference-pipeline")
    spark.sparkContext.setLogLevel("ERROR")

    # ---- 1. EXTRACT ------------------------------------------------
    eurostat_schema = T.StructType(
        [T.StructField(c, T.StringType(), True) for c in (
            "STRUCTURE", "STRUCTURE_ID", "STRUCTURE_NAME", "freq",
            "Time frequency", "citizen", "Country of citizenship",
            "agedef", "Age definition", "age", "Age class", "unit",
            # the raw header has BOTH `sex` and `Sex` — Spark resolves
            # case-insensitively, so the code column gets a new name
            # (schema-on-CSV maps positionally; header row is skipped)
            "Unit of measure", "sex_code", "Sex", "geo",
            "Geopolitical entity (reporting)",
        )]
        + [
            T.StructField("TIME_PERIOD", T.IntegerType(), True),
            T.StructField("Time", T.StringType(), True),
            T.StructField("OBS_VALUE", T.StringType(), True),
        ]
        + [T.StructField(c, T.StringType(), True) for c in (
            "Observation value", "OBS_FLAG",
            "Observation status (Flag) V2 structure", "CONF_STATUS",
            "Confidentiality status (flag)",
        )]
    )
    have_real_csv = os.path.exists(EUROSTAT_CSV)
    if have_real_csv:
        raw_immig = read_csv(spark, EUROSTAT_CSV, eurostat_schema)
    else:  # standalone fallback: same shape, tiny fixture
        raw_immig = spark.createDataFrame(
            [("ES", 2019, "94000"), ("EL", 2019, ":"), ("DE", 2019, "88000")],
            "geo string, TIME_PERIOD int, OBS_VALUE string",
        )

    # geo/year domain actually present in the feed drives the fixtures
    geos = [
        r.geo
        for r in raw_immig.select("geo").distinct().collect()
        if r.geo and len(r.geo) == 2
    ]
    years = list(YEARS)
    iso3_of = {a2.lower(): a3 for a2, a3, _, _ in iso3166.COUNTRIES}
    iso3_of.update(dict(iso3166.EXTRA_ALIASES))
    name_of = {a3: name for _, a3, name, _ in iso3166.COUNTRIES}

    # DETERMINISTIC FIXTURE (World Bank population API stand-in):
    # value derived from iso3 chars + year so every run is identical.
    pop_rows = []
    for g in sorted(geos):
        a3 = iso3_of.get(g.lower())
        if not a3:
            continue
        for y in years:
            pop = 5_000_000 + sum(ord(c) for c in a3) * 100_000 + y * 37
            pop_rows.append((a3, (g, name_of[a3]), str(pop), y))
    raw_pop = spark.createDataFrame(pop_rows, RAW_POPULATION)
    aggregates = spark.createDataFrame(
        [("WLD",), ("EUU",), ("EU27_2020",)], "code string"
    )

    # DETERMINISTIC FIXTURE (UN crime XLSX stand-in — the blob is
    # absent from the reference repo itself): rate from iso3+year.
    crime_rows = []
    for g in sorted(geos):
        a3 = iso3_of.get(g.lower())
        if not a3:
            continue
        for y in years:
            rate = (sum(ord(c) for c in a3) % 50) + (y % 7) + 0.125
            crime_rows.append(
                (a3, name_of[a3], "Europe", y, "Total", "Total", "Total",
                 "Persons convicted", "Rate per 100,000 population",
                 str(rate))
            )
    raw_crime = spark.createDataFrame(crime_rows, RAW_CRIME)

    # ---- 2. TRANSFORM ---------------------------------------------
    country, population = star.transform_country_and_population(
        raw_pop, aggregates
    )
    crime = star.transform_crime(raw_crime)
    immigration = star.transform_immigration(
        raw_immig.select("geo", "TIME_PERIOD", "OBS_VALUE"),
        population,
        star.iso2_lookup(spark),
    )
    # the real feed repeats each (geo, year) across the agedef
    # dimension (COMPLET vs REACH, same value); the reference absorbs
    # that at the DB via ON CONFLICT DO NOTHING — A2 batch first-wins
    # is the engine-side equivalent
    from data_integration_and_visualization_uc3m_spark.operators import upsert

    immigration = upsert.dedup_batch_first_wins(
        immigration,
        keys=["country_iso3_id", "year_id"],
        order_by=["immigration_per_100000"],
    )
    tables = {
        "country": country,
        "population": population,
        "crime": crime,
        "immigration": immigration,
    }

    # ---- 3. VALIDATE ----------------------------------------------
    report = star.validate_star(tables)
    assert all(v == 0 for v in report.values()), report

    # ---- 4. LOAD (live Derby warehouse) ---------------------------
    jvm = spark._jvm
    java_import(jvm, "java.sql.DriverManager")
    conn = jvm.DriverManager.getConnection(URL)
    st = conn.createStatement()
    for t in reversed(LOAD_ORDER):
        try:
            st.execute(f'DROP TABLE "{t}"' if t == "year" else f"DROP TABLE {t}")
        except Exception:
            pass
    for stmt in star.ddl_statements():
        st.execute(stmt)
    conn.close()

    loaded = {}
    for name in LOAD_ORDER:
        if name == "year":
            continue  # DDL-seeded
        loaded[name] = jdbc_atomic_append(
            tables[name], URL, name, properties=PROPS
        )

    # ---- 5. EGRESS (viz data.csv from the LIVE warehouse) ---------
    def wh(table):
        df = (
            spark.read.format("jdbc")
            .option("url", URL)
            .option("dbtable", table)
            .option("driver", PROPS["driver"])
            .load()
        )
        return df.toDF(*[c.lower() for c in df.columns])

    pts = (
        wh("immigration")
        .join(wh("crime"), ["country_iso3_id", "year_id"])
        .join(wh("country"), "country_iso3_id")
        .groupBy("country_iso3_id", "country_name")
        .agg(
            F.avg("immigration_per_100000").cast("decimal(10,2)").alias("immigration"),
            F.avg("convicts_per_100000").cast("decimal(10,2)").alias("crime"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("immigration").desc(), F.col("country_iso3_id"))
    viz = pts.withColumn("rn", F.row_number().over(w)).select(
        F.col("country_name").alias("name"),
        "immigration",
        "crime",
        F.concat(
            F.col("country_name"),
            F.lit("<br>Immigration "),
            F.col("immigration").cast("string"),
            F.lit("\n Crime"),
            F.col("crime").cast("string"),
        ).alias("text"),
        F.when(F.col("rn") <= 3, "0 - 3")
        .when(F.col("rn") <= 11, "3 - 11")
        .when(F.col("rn") <= 21, "11 - 21")
        .when(F.col("rn") <= 50, "21 - 50")
        .otherwise("50 - 3000")
        .alias("trace"),
    )
    viz_path = os.path.join(out_dir, "data_csv")
    write_viz_csv(viz, viz_path)

    print(json.dumps({
        "eurostat_source": "real" if have_real_csv else "fixture",
        "raw_immigration_rows": raw_immig.count(),
        "loaded": loaded,
        "warehouse_counts": {t: wh(t).count() for t in
                             ("country", "population", "crime", "immigration")},
        "year_seeded": wh('"year"').count(),
        "validation": report,
        "viz_rows": viz.count(),
        "viz_csv": viz_path,
    }))


if __name__ == "__main__":
    main()
