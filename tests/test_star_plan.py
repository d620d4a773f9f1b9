"""End-to-end golden pipeline test (SURVEY §5.3): reference-shaped raw
fixtures → full transform → hand-computed star-schema outputs,
including the rate formula (etl:292-294) and the 7-way slice
(etl:236-252), plus idempotent double-load (§5.4)."""

from __future__ import annotations

import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from data_integration_and_visualization_uc3m_spark.operators import upsert
from data_integration_and_visualization_uc3m_spark.plans import star
from data_integration_and_visualization_uc3m_spark.schemas import (
    LOAD_ORDER,
    RAW_CRIME,
    RAW_POPULATION,
)


def raw_population(spark):
    rows = [
        # (iso3, (id, name), value, year)
        ("ESP", ("ES", " Spain "), "47000000", 2019),
        ("ESP", ("ES", "Spain"), "47500000.4", 2020),
        ("FRA", ("FR", "France"), "67000000", 2019),
        ("WLD", ("1W", "World"), "7700000000", 2019),   # aggregate → excluded
        ("XX", ("XX", "Tiny"), "1000", 2019),           # bad ISO3 length
        ("DEU", ("DE", None), "83000000", 2019),        # null nested name
        ("ITA", ("IT", "Italy"), "n/a", 2019),          # garbage value
        ("PRT", ("PT", "Portugal"), "-5", 2019),        # non-positive
        ("GRC", ("GR", "Greece"), "10700000", 2017),    # year < 2018
    ]
    return spark.createDataFrame(
        [(i3, c, v, y) for (i3, c, v, y) in rows], RAW_POPULATION
    )


def test_country_population_golden(spark):
    aggregates = spark.createDataFrame([("WLD",), ("EUU",)], "code string")
    country, population = star.transform_country_and_population(
        raw_population(spark), aggregates
    )
    c = {r.country_iso3_id: r.country_name for r in country.collect()}
    assert c == {"ESP": "spain", "FRA": "france"}
    p = {(r.country_iso3_id, r.year_id): r.population for r in population.collect()}
    assert p == {("ESP", 2019): 47000000, ("ESP", 2020): 47500000, ("FRA", 2019): 67000000}


def raw_crime(spark):
    base = {
        "Category": "Total", "Sex": "Total", "Age": "Total",
        "Indicator": "Persons convicted",
        "Unit of measurement": "Rate per 100,000 population",
        "Region": "Europe",
    }
    rows = [
        dict(base, Iso3_code="ESP", Country="Spain", Year=2019, VALUE="8.125"),
        dict(base, Iso3_code="FRA", Country="France", Year=2019, VALUE="junk"),
        dict(base, Iso3_code="DEU", Country="Germany", Year=2017, VALUE="5.0"),
        dict(base, Iso3_code="ITA", Country="Italy", Year=2019, VALUE="-2"),
        dict(base, Iso3_code="PRT", Country="Portugal", Year=2019, VALUE="3.5", Sex="Male"),
        dict(base, Iso3_code="GRC", Country="Greece", Year=2019, VALUE="4.0", Region="Asia"),
    ]
    return spark.createDataFrame(
        [tuple(r[f.name] for f in RAW_CRIME.fields) for r in rows], RAW_CRIME
    )


def raw_immigration(spark):
    return spark.createDataFrame(
        [
            ("ES", 2019, "94000"),       # → ESP
            ("EL", 2019, ":"),           # Eurostat quirk code + missing marker → 0
            ("UK", 2019, "1000"),        # → GBR but no population row → inner-join drop
            ("EU27_2020", 2019, "5"),    # aggregate, len>2 → dropped
            ("FR", 2019, "junk"),        # coerce-null → dropped
        ],
        "geo string, TIME_PERIOD int, OBS_VALUE string",
    )


def test_crime_golden_seven_way_slice(spark):
    df = raw_crime(spark)
    got = {r.country_iso3_id: r.convicts_per_100000 for r in star.transform_crime(df).collect()}
    # only ESP survives; 8.125 rounds HALF_UP to 8.13 (not pandas' 8.12)
    assert got == {"ESP": Decimal("8.13")}


def test_immigration_golden_rate(spark):
    raw = raw_immigration(spark)
    population = spark.createDataFrame(
        [("ESP", 2019, 47000000), ("GRC", 2019, 10700000), ("FRA", 2019, 67000000)],
        "country_iso3_id string, year_id int, population long",
    )
    got = {
        (r.country_iso3_id, r.year_id): r.immigration_per_100000
        for r in star.transform_immigration(raw, population, star.iso2_lookup(spark)).collect()
    }
    assert got == {
        ("ESP", 2019): Decimal("200.00"),  # 94000/47e6*1e5
        ("GRC", 2019): Decimal("0.00"),    # ':' → 0
    }


def raw_sources(spark, crime=None):
    return {
        "raw_pop": raw_population(spark),
        "aggregates": spark.createDataFrame([("WLD",)], "code string"),
        "raw_crime": crime if crime is not None else raw_crime(spark),
        "raw_immig": raw_immigration(spark),
    }


def live_rows(spark, root):
    return {
        name: sorted(map(tuple, upsert.read_upsert_parquet(
            spark, os.path.join(root, name)).collect()))
        for name in LOAD_ORDER
    }


def test_validate_and_idempotent_load(spark, tmp_path):
    root = str(tmp_path)
    reports, loaded = [], []
    for _ in range(2):
        reports.append(star.run_pass(spark, raw_sources(spark), root))
        loaded.append(live_rows(spark, root))
    assert all(v == 0 for r in reports for v in r.values()), reports
    assert len(reports[0]) == 11, reports[0]
    for name in LOAD_ORDER:
        assert loaded[0][name], f"{name} loaded nothing"
    assert loaded[0] == loaded[1]


def _blocked_pass(spark, root, sources, counter):
    """run_pass must raise on ``counter``, keep every table's live
    snapshot, and leave no snapshot dir of its own behind."""
    def state():
        return {name: (upsert.current_snapshot(os.path.join(root, name)),
                       sorted(os.listdir(os.path.join(root, name))))
                for name in LOAD_ORDER}

    before = state()
    with pytest.raises(star.StarViolation) as err:
        star.run_pass(spark, sources, root)
    assert err.value.report[counter] > 0, err.value.report
    assert state() == before


def test_run_pass_blocks_duplicate_key_in_live_snapshot(spark, tmp_path):
    root = str(tmp_path)
    star.run_pass(spark, raw_sources(spark), root)
    # a live country snapshot that already holds a key twice
    table = os.path.join(root, "country")
    cur = upsert.current_snapshot(table)
    dup = upsert.read_upsert_parquet(spark, table).unionByName(
        spark.createDataFrame([("ESP", "espana")],
                              "country_iso3_id string, country_name string"))
    name = upsert._next_snapshot_name(table)
    dup.write.parquet(os.path.join(table, name))
    upsert._commit_manifest(table, name, expect=cur)
    _blocked_pass(spark, root, raw_sources(spark), "country_dup_keys")


def test_run_pass_blocks_fk_orphan(spark, tmp_path):
    root = str(tmp_path)
    star.run_pass(spark, raw_sources(spark), root)
    # NOR is convicted in the UN feed but absent from the World Bank's
    orphan = raw_crime(spark).filter(F.col("Iso3_code") == "ESP").withColumn(
        "Iso3_code", F.lit("NOR"))
    sources = raw_sources(spark, crime=raw_crime(spark).unionByName(orphan))
    _blocked_pass(spark, root, sources, "crime_fk_country")


def _reference_report(tables):
    """validate_star's counters from the per-violation operators."""
    from data_integration_and_visualization_uc3m_spark.operators import validate
    from data_integration_and_visualization_uc3m_spark.schemas import NATURAL_KEYS

    want = {}
    for name, keys in NATURAL_KEYS.items():
        if name in tables:
            want[f"{name}_dup_keys"] = validate.uniqueness_violations(
                tables[name], keys).count()
    for fact in ("population", "crime", "immigration"):
        for dim, key in (("country", "country_iso3_id"), ("year", "year_id")):
            if fact in tables and dim in tables:
                want[f"{fact}_fk_{dim}"] = validate.fk_violations(
                    tables[fact], tables[dim].select(key), [key]).count()
    return want


def test_validate_star_exact_and_one_query(spark):
    """Adversarial star: duplicate and NULL natural keys, orphan and
    NULL FKs, a dimension holding a NULL key and duplicate rows, and
    empty dimensions. validate_star equals the per-violation operators
    on every table subset, in a small fixed number of Spark jobs."""
    fact = "{} double, country_iso3_id string, year_id int"
    country = spark.createDataFrame(
        [("ESP", "spain"), ("FRA", "france"), ("FRA", "france2"),
         (None, "n1"), (None, "n2"), ("DEU", "germany")],
        "country_iso3_id string, country_name string")
    year = spark.createDataFrame([(2018,), (2019,), (2019,), (None,)], "year_id int")
    population = spark.createDataFrame(
        [(1, "ESP", 2018), (2, "ESP", 2018), (3, "XXX", 2019), (4, None, 2019),
         (5, None, 2019), (6, "FRA", None), (7, "FRA", 2030), (8, "DEU", 2019)],
        "population long, country_iso3_id string, year_id int")
    crime = spark.createDataFrame(
        [(1.0, "ESP", 2018), (2.0, "QQQ", 2031), (3.0, None, None), (4.0, None, None)],
        fact.format("convicts_per_100000"))
    immigration = spark.createDataFrame(
        [(1.0, "DEU", 2019), (2.0, "DEU", 2019), (3.0, "GRC", 2018),
         (4.0, "ESP", 2031)],
        fact.format("immigration_per_100000"))
    tables = {"country": country, "year": year, "population": population,
              "crime": crime, "immigration": immigration}
    subsets = [
        tables,
        {t: tables[t] for t in ("population", "crime", "immigration")},
        {"country": country, "population": population},
        {"year": year, "immigration": immigration},
        {"country": country.limit(0), "year": year.limit(0), "crime": crime},
    ]
    sc = spark.sparkContext
    reports = []
    for i, sub in enumerate(subsets):
        group = f"validate_star_{i}"
        sc.setJobGroup(group, "validate_star")
        try:
            got = star.validate_star(sub)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert got == _reference_report(sub), sorted(sub)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 4, sorted(sub)
        reports.append(got)
    # every counter of the full star is a real violation, not a vacuous 0
    assert len(reports[0]) == 11 and all(reports[0].values()), reports[0]
