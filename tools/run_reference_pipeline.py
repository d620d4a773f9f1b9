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
2. STAR PASS — ``plans.star.run_pass`` transforms, stages, validates
   and publishes the star as versioned parquet under
   ``<output_dir>/warehouse`` (nothing is published on a violation).
3. LOAD — star.ddl_statements() on a LIVE embedded Derby warehouse,
   then FK-ordered atomic stage-then-swap loads of the published
   tables (per-table commit/rollback, database-generated surrogate
   keys).
4. EGRESS — the viz layer's data.csv (hover text + positional size
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
    from data_integration_and_visualization_uc3m_spark.operators.upsert import (
        read_upsert_parquet,
    )
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
        local_frame,
        read_csv,
    )

    spark = get_spark("reference-pipeline")
    spark.sparkContext.setLogLevel("ERROR")

    # ---- 1. EXTRACT ------------------------------------------------
    # the raw header has BOTH `sex` and `Sex` — Spark resolves
    # case-insensitively, so the code column gets a new name
    # (schema-on-CSV maps positionally; header row is skipped)
    eurostat_schema = T.StructType([
        T.StructField(c, T.IntegerType() if c == "TIME_PERIOD" else T.StringType())
        for c in (
            "STRUCTURE", "STRUCTURE_ID", "STRUCTURE_NAME", "freq",
            "Time frequency", "citizen", "Country of citizenship",
            "agedef", "Age definition", "age", "Age class", "unit",
            "Unit of measure", "sex_code", "Sex", "geo",
            "Geopolitical entity (reporting)", "TIME_PERIOD", "Time",
            "OBS_VALUE", "Observation value", "OBS_FLAG",
            "Observation status (Flag) V2 structure", "CONF_STATUS",
            "Confidentiality status (flag)",
        )
    ])
    have_real_csv = os.path.exists(EUROSTAT_CSV)
    if have_real_csv:
        raw_immig = read_csv(spark, EUROSTAT_CSV, eurostat_schema)
    else:  # standalone fallback: same shape, tiny fixture
        raw_immig = local_frame(spark, [
            {"geo": g, "TIME_PERIOD": 2019, "OBS_VALUE": v}
            for g, v in (("ES", "94000"), ("EL", ":"), ("DE", "88000"))
        ], eurostat_schema)

    # geo/year domain actually present in the feed drives the fixtures
    feed = sorted(
        (r.geo, star.ISO2_TO_ISO3[r.geo.upper()])
        for r in raw_immig.select("geo").distinct().collect()
        if r.geo and len(r.geo) == 2 and r.geo.upper() in star.ISO2_TO_ISO3
    )
    name_of = {a3: name for _, a3, name, _ in iso3166.COUNTRIES}

    # DETERMINISTIC FIXTURE (World Bank population API stand-in):
    # value derived from iso3 chars + year so every run is identical.
    raw_pop = local_frame(spark, [
        {"countryiso3code": a3, "country": {"id": g, "value": name_of[a3]},
         "value": 5_000_000 + sum(map(ord, a3)) * 100_000 + y * 37,
         "year_id": y}
        for g, a3 in feed for y in YEARS
    ], RAW_POPULATION)
    aggregates = local_frame(
        spark, [{"code": c} for c in ("WLD", "EUU", "EU27_2020")],
        T.StructType([T.StructField("code", T.StringType())]),
    )

    # DETERMINISTIC FIXTURE (UN crime XLSX stand-in — the blob is
    # absent from the reference repo itself): rate from iso3+year.
    raw_crime = local_frame(spark, [
        {"Iso3_code": a3, "Country": name_of[a3], "Region": "Europe",
         "Year": y, "Category": "Total", "Sex": "Total", "Age": "Total",
         "Indicator": "Persons convicted",
         "Unit of measurement": "Rate per 100,000 population",
         "VALUE": (sum(map(ord, a3)) % 50) + (y % 7) + 0.125}
        for _, a3 in feed for y in YEARS
    ], RAW_CRIME)

    # ---- 2. STAR PASS (stage, validate, publish) ------------------
    warehouse = os.path.join(out_dir, "warehouse")
    report = star.run_pass(spark, {
        "raw_pop": raw_pop, "aggregates": aggregates,
        "raw_crime": raw_crime, "raw_immig": raw_immig,
    }, warehouse)

    # ---- 3. LOAD (live Derby warehouse) ---------------------------
    jvm = spark._jvm
    java_import(jvm, "java.sql.DriverManager")
    conn = jvm.DriverManager.getConnection(URL)
    st = conn.createStatement()  # the in-memory database is new per JVM
    for stmt in star.ddl_statements():
        st.execute(stmt)
    conn.close()

    loaded = {
        name: jdbc_atomic_append(
            read_upsert_parquet(spark, os.path.join(warehouse, name)),
            URL, name, properties=PROPS,
        )
        for name in LOAD_ORDER
        if name != "year"  # DDL-seeded
    }

    # ---- 4. EGRESS (viz data.csv from the LIVE warehouse) ---------
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
        "warehouse_counts": {t: wh(t).count() for t in loaded},
        "year_seeded": wh('"year"').count(),
        "validation": report,
        "viz_rows": viz.count(),
        "viz_csv": viz_path,
    }))


if __name__ == "__main__":
    main()
