"""Live warehouse e2e — the reference's full load path against a REAL
database: schema.sql DDL (PK/FK/UNIQUE/identity + seeded year dim)
executed on embedded Derby, the star pass (`plans.star.run_pass`) run on
reference-shaped fixtures, the FK-ordered load of its published tables
performed with the atomic stage-then-swap sink, and the constraints
exercised live (FK violation rejected atomically; duplicate-batch
reload blocked by UNIQUE unless routed through the conflict-ignore
path)."""

from __future__ import annotations

from decimal import Decimal

from py4j.java_gateway import java_import

from data_integration_and_visualization_uc3m_spark.operators import upsert
from data_integration_and_visualization_uc3m_spark.plans import star
from data_integration_and_visualization_uc3m_spark.schemas import (
    LOAD_ORDER,
    RAW_CRIME,
    RAW_POPULATION,
)
from data_integration_and_visualization_uc3m_spark.sinks.writers import (
    jdbc_atomic_append,
)

URL = "jdbc:derby:memory:sg_warehouse;create=true"
PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def _fresh_schema(spark):
    jvm = spark._jvm
    java_import(jvm, "java.sql.DriverManager")
    conn = jvm.DriverManager.getConnection(URL)
    st = conn.createStatement()
    # drop in reverse FK order; ignore missing tables on first run
    for t in reversed(LOAD_ORDER):
        try:
            st.execute(f'DROP TABLE "{t}"' if t == "year" else f"DROP TABLE {t}")
        except Exception:
            pass
    for stmt in star.ddl_statements():
        st.execute(stmt)
    conn.close()


def _read(spark, table):
    df = (
        spark.read.format("jdbc")
        .option("url", URL)
        .option("dbtable", table)
        .option("driver", PROPS["driver"])
        .load()
    )
    # DDL-created tables fold unquoted identifiers to uppercase —
    # normalize back to the engine's lowercase convention
    return df.toDF(*[c.lower() for c in df.columns])


def test_star_schema_loads_live(spark, tmp_path):
    _fresh_schema(spark)

    raw_pop = spark.createDataFrame(
        [
            ("ESP", ("ES", "Spain"), "47000000", 2019),
            ("FRA", ("FR", "France"), "67000000", 2019),
            ("WLD", ("1W", "World"), "7700000000", 2019),
        ],
        RAW_POPULATION,
    )
    raw_immig = spark.createDataFrame(
        [("ES", 2019, "94000"), ("FR", 2019, ":")],
        "geo string, TIME_PERIOD int, OBS_VALUE string",
    )
    # the engine-side pass publishes only a star it validated...
    report = star.run_pass(spark, {
        "raw_pop": raw_pop,
        "aggregates": spark.createDataFrame([("WLD",)], "code string"),
        "raw_crime": spark.createDataFrame([], RAW_CRIME),
        "raw_immig": raw_immig,
    }, str(tmp_path))
    assert all(v == 0 for v in report.values()), report

    # ...and the live load of the published tables agrees
    for name in ("country", "population", "immigration"):
        published = upsert.read_upsert_parquet(spark, str(tmp_path / name))
        assert jdbc_atomic_append(published, URL, name, properties=PROPS) == 2, name

    assert _read(spark, '"year"').count() == 5  # DDL-seeded 2018-2022
    got = {
        (r.country_iso3_id, r.year_id): r.immigration_per_100000
        for r in _read(spark, "immigration").collect()
    }
    assert got == {
        ("ESP", 2019): Decimal("200.00"),
        ("FRA", 2019): Decimal("0.00"),
    }
    # surrogate keys were database-generated (identity), not supplied
    ids = sorted(r.immigration_id for r in _read(spark, "immigration").collect())
    assert ids == [1, 2]


def test_live_constraints_reject_bad_loads(spark):
    import pytest as _pytest

    _fresh_schema(spark)
    country = spark.createDataFrame(
        [("ESP", "spain")], "country_iso3_id string, country_name string"
    )
    jdbc_atomic_append(country, URL, "country", properties=PROPS)
    pop = spark.createDataFrame(
        [(47000000, "ESP", 2019)],
        "population long, country_iso3_id string, year_id int",
    )
    jdbc_atomic_append(pop, URL, "population", properties=PROPS)

    # FK: unknown country must be rejected, and atomically — the good
    # row in the same batch must NOT load either (per-table rollback)
    bad_fk = spark.createDataFrame(
        [(1000, "ESP", 2020), (2000, "ZZZ", 2019)],
        "population long, country_iso3_id string, year_id int",
    )
    with _pytest.raises(Exception):
        jdbc_atomic_append(bad_fk, URL, "population", properties=PROPS)
    assert _read(spark, "population").count() == 1

    # UNIQUE natural key: a straight reload of the same batch fails...
    with _pytest.raises(Exception):
        jdbc_atomic_append(pop, URL, "population", properties=PROPS)
    # ...but the K2 conflict-ignore route (anti-join vs current target)
    # turns the reload into a clean no-op — the reference's ON CONFLICT
    # DO NOTHING loop (etl:332-345) against the live constraint
    target = _read(spark, "population").select(
        "population", "country_iso3_id", "year_id"
    )
    fresh = upsert.upsert_ignore(
        target, pop, keys=["country_iso3_id", "year_id"]
    ).join(
        target.select("country_iso3_id", "year_id"),
        ["country_iso3_id", "year_id"],
        "left_anti",
    )
    assert jdbc_atomic_append(fresh, URL, "population", properties=PROPS) == 0
    assert _read(spark, "population").count() == 1


def test_swap_dialect_sql_matrix():
    """The stage-then-swap SQL across vendor dialects — H2/HSQLDB/
    Postgres share ANSI double-quote identifier rules with Derby,
    MySQL quotes with backticks; only Derby ships in this container,
    so the non-Derby emissions are pinned here (the live protocol
    itself is exercised by the Derby tests above)."""
    from data_integration_and_visualization_uc3m_spark.sinks.writers import (
        SWAP_DIALECTS,
        swap_dialect_for_url,
    )

    cols = ["id", "name"]
    for vendor in ("derby", "h2", "hsqldb", "postgresql"):
        d = swap_dialect_for_url(f"jdbc:{vendor}:mem:x")
        assert d.name == vendor
        assert d.insert_select("t", cols, "t_STG", cols) == (
            'INSERT INTO t (id, name) SELECT "id", "name" FROM t_STG'
        )
        assert d.drop_staging("t_STG") == "DROP TABLE t_STG"

    my = swap_dialect_for_url("jdbc:mysql://h/db")
    assert my.insert_select("t", cols, "t_STG", cols) == (
        "INSERT INTO t (id, name) SELECT `id`, `name` FROM t_STG"
    )
    # unknown vendor falls back to ANSI quoting
    other = swap_dialect_for_url("jdbc:sqlserver://h")
    assert other.q("c") == '"c"'
    # quote-char escaping doubles embedded quotes
    assert SWAP_DIALECTS["mysql"].q("we`ird") == "`we``ird`"
    assert SWAP_DIALECTS["derby"].q('we"ird') == '"we""ird"'
