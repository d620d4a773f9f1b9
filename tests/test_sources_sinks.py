"""Ingest edges (paginated API with injected fetcher, error absorption,
XLSX bridge) and egress sinks."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from data_integration_and_visualization_uc3m_spark.sinks import writers
from data_integration_and_visualization_uc3m_spark.sources import api
from data_integration_and_visualization_uc3m_spark.sources.readers import year_dim

SF = "/root/testdata/sf0.001"

ISO3 = T.StructType([T.StructField("Iso3_code", T.StringType())])


def wb_row(iso3, name, value):
    return {
        "countryiso3code": iso3,
        "country": {"id": iso3[:2], "value": name},
        "value": value,
    }


def test_ingest_indicator_per_year_injects_year(spark):
    pages = {
        "u/2018": [{}, [wb_row("ESP", "Spain", "46000000")]],
        "u/2019": [{}, [wb_row("ESP", "Spain", "47000000"), wb_row("FRA", "France", "67000000")]],
    }
    df = api.ingest_indicator_per_year(
        spark, lambda url: pages[url], "u/{year}", [2018, 2019]
    )
    got = sorted((r.countryiso3code, r.year_id) for r in df.collect())
    assert got == [("ESP", 2018), ("ESP", 2019), ("FRA", 2019)]
    assert df.schema["country"].dataType.typeName() == "struct"


def test_ingest_all_or_nothing_on_failure(spark):
    calls = {"n": 0}

    def flaky(url):
        calls["n"] += 1
        if calls["n"] > 1:
            raise api.IngestError("boom")
        return [{}, [wb_row("ESP", "Spain", "1")]]

    df = api.ingest_indicator_per_year(spark, flaky, "u/{year}", [2018, 2019])
    assert df.count() == 0  # etl:128-130 — reset, not partial
    assert df.schema == api.RAW_POPULATION


def test_ingest_country_metadata_aggregates_table(spark):
    payload = [
        {},
        [
            {"id": "ESP", "name": "Spain", "region": {"id": "EMU", "value": "Europe"}},
            {"id": "WLD", "name": "World", "region": {"id": "NA", "value": "Aggregates"}},
        ],
    ]
    countries, aggregates = api.ingest_country_metadata(spark, lambda u: payload, "u")
    assert countries.count() == 2
    assert [r.code for r in aggregates.collect()] == ["WLD"]


def test_ingest_frames_are_local_relations_with_row_path_values(spark):
    """The World Bank frames equal what createDataFrame(list) builds from
    the same JSON (number, bool and NULL leaves stringified alike, extra
    keys dropped, NULL structs and leaves kept), and plan as local
    relations: no Python RDD scan re-runs on every job."""
    from data_integration_and_visualization_uc3m_spark.plans import star

    values = ["46000000", 47351567, 4.7e7, 1e-5, True, None, "n/a"]
    page = [dict(wb_row("ESP", "Spain", v), extra=i) for i, v in enumerate(values)]
    page += [
        {"countryiso3code": "FRA", "country": None, "value": 1},
        {"countryiso3code": "ITA", "country": {"id": None, "value": "Italy", "x": 1},
         "value": 2.5},
    ]
    df = api.ingest_indicator_per_year(spark, lambda url: [{}, page], "u/{year}", [2019])
    expected = spark.createDataFrame(
        [dict(r, year_id=2019) for r in page], api.RAW_POPULATION)
    assert df.schema == api.RAW_POPULATION
    assert df.collect() == expected.collect()
    assert [r.value for r in df.collect()][:7] == [
        "46000000", "47351567", "47000000.0", "1e-05", "true", None, "n/a"]

    meta = [{}, [{"id": "ESP", "name": "Spain", "iso2Code": "ES",
                  "region": {"id": "ECS", "value": "Europe", "iso2code": "Z7"}},
                 {"id": "WLD", "name": "World", "region": None}]]
    countries, aggregates = api.ingest_country_metadata(spark, lambda u: meta, "u")
    assert [tuple(r) for r in countries.collect()] == [
        ("ESP", "Spain", ("ECS", "Europe")), ("WLD", "World", None)]
    with pytest.raises(TypeError):
        api.ingest_country_metadata(
            spark, lambda u: [{}, [{"id": "ESP", "region": "Europe"}]], "u")

    for frame in (df, countries, aggregates, star.iso2_lookup(spark)):
        frame.count()
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan and "LocalTableScan" in plan, plan


def test_fetch_paginated_stops_on_empty(spark):
    pages = {"p/1": [{}, [{"a": 1}]], "p/2": [{}, [{"a": 2}]], "p/3": [{}, []]}
    got = api.fetch_paginated(lambda u: pages[u], "p/{page}", range(1, 10))
    assert got == [{"a": 1}, {"a": 2}]


def test_retry_backoff(spark):
    attempts = {"n": 0}

    def flaky():
        attempts["n"] += 1
        if attempts["n"] < 3:
            raise RuntimeError("conn refused")
        return "ok"

    sleeps = []
    assert api.retry(flaky, retries=5, delay_s=3, sleep=sleeps.append) == "ok"
    assert sleeps == [3, 3]

    with pytest.raises(api.IngestError):
        api.retry(lambda: (_ for _ in ()).throw(RuntimeError("x")).__next__(),
                  retries=2, delay_s=0, sleep=lambda s: None)


def test_xlsx_bridge_header_offset(spark, tmp_path):
    """S4 executes without third-party deps: the stdlib writer builds
    the fixture and read_xlsx parses it with the zip+XML parser.
    header_row=2 ⇒ spreadsheet row 3 is the header, matching the
    reference's pandas header=2 (crime_immigration_etl.py:141)."""
    from data_integration_and_visualization_uc3m_spark.sources.xlsx import (
        read_xlsx, write_xlsx,
    )

    p = str(tmp_path / "t.xlsx")
    write_xlsx([["junk1"], ["junk2"], ["Iso3_code"], ["ESP"]], p)
    df = read_xlsx(spark, p, ISO3, header_row=2)
    assert df.columns == ["Iso3_code"]
    assert [r.Iso3_code for r in df.collect()] == ["ESP"]


def test_xlsx_header_row_beyond_sheet_raises(spark, tmp_path):
    """A header row past the sheet's last row is the typed error, not
    an IndexError or an empty frame."""
    from data_integration_and_visualization_uc3m_spark.sources.xlsx import (
        XlsxUnavailable, read_xlsx, write_xlsx,
    )

    p = str(tmp_path / "short.xlsx")
    write_xlsx([["junk1"], ["Iso3_code"], ["ESP"]], p)
    assert read_xlsx(spark, p, ISO3, header_row=1).columns == ["Iso3_code"]
    beyond = r"header_row=3 beyond sheet \(3 rows\)"
    with pytest.raises(XlsxUnavailable, match=beyond):
        read_xlsx(spark, p, ISO3, header_row=3)


def test_xlsx_header_only_sheet_is_empty_frame(spark, tmp_path):
    """A sheet whose last row is the header reads as the empty frame
    with the declared schema."""
    from data_integration_and_visualization_uc3m_spark.sources.xlsx import (
        read_xlsx, write_xlsx,
    )

    p = str(tmp_path / "empty.xlsx")
    write_xlsx([["junk1"], ["Iso3_code"]], p)
    df = read_xlsx(spark, p, ISO3, header_row=1)
    assert df.schema == ISO3
    assert df.collect() == []


def test_xlsx_schema_field_missing_from_header_raises(spark, tmp_path):
    """A declared field the header row lacks is the typed error, not
    a silently NULL column."""
    from data_integration_and_visualization_uc3m_spark.sources.xlsx import (
        XlsxUnavailable, read_xlsx, write_xlsx,
    )

    p = str(tmp_path / "narrow.xlsx")
    write_xlsx([["Iso3_code"], ["ESP"]], p)
    schema = T.StructType(
        [*ISO3.fields, T.StructField("Year", T.IntegerType())]
    )
    with pytest.raises(XlsxUnavailable, match=r"lacks \['Year'\]"):
        read_xlsx(spark, p, schema)


def test_xlsx_stdlib_parser_types_and_gaps(spark, tmp_path):
    """Stdlib parser round-trip: mixed types, a skipped cell (sparse
    column refs), and a multi-column header — semantics pandas
    read_excel would give."""
    from data_integration_and_visualization_uc3m_spark.sources import xlsx

    p = str(tmp_path / "m.xlsx")
    xlsx.write_xlsx(
        [
            ["code", "val", "flag"],
            ["ESP", 47.5, True],
            ["FRA", None, False],
            ["DEU", 83, True],
        ],
        p,
    )
    rows = xlsx.parse_xlsx_rows(p)
    assert rows[0] == ["code", "val", "flag"]
    assert rows[1] == ["ESP", 47.5, True]
    assert rows[2] == ["FRA", None, False]
    assert rows[3] == ["DEU", 83, True]  # integral float → int

    schema = T.StructType([
        T.StructField("code", T.StringType()),
        T.StructField("val", T.DoubleType()),
        T.StructField("flag", T.BooleanType()),
    ])
    df = xlsx.read_xlsx(spark, p, schema)
    assert df.columns == ["code", "val", "flag"]
    got = {r.code: r for r in df.collect()}
    assert got["DEU"].val == 83.0 and got["ESP"].flag is True

    # column-letter helpers are inverses across the AA boundary
    for i in (0, 25, 26, 27, 700):
        assert xlsx._col_index(f"{xlsx._col_letter(i)}9") == i


def test_xlsx_sheet_order_numeric_and_name_escaping(tmp_path):
    """Sheet selection sorts by numeric suffix (sheet2 < sheet10, where
    lexicographic ordering would invert them), and write_xlsx escapes
    XML-special characters in the sheet name."""
    import shutil
    import zipfile

    from data_integration_and_visualization_uc3m_spark.sources import xlsx

    p = str(tmp_path / "esc.xlsx")
    xlsx.write_xlsx([["a&b"], [1]], p, sheet_name='P&L <"2024">')
    assert xlsx.parse_xlsx_rows(p) == [["a&b"], [1]]
    with zipfile.ZipFile(p) as zf:
        wb = zf.read("xl/workbook.xml").decode()
    assert "&amp;" in wb and "<\"" not in wb

    # Build a 12-sheet workbook by cloning sheet1.xml under new member
    # names: sheet index 2 must resolve to sheet3.xml, not sheet10.xml.
    base = str(tmp_path / "one.xlsx")
    multi = str(tmp_path / "multi.xlsx")
    xlsx.write_xlsx([["s1"]], base)
    shutil.copy(base, multi)
    with zipfile.ZipFile(base) as zin:
        sheet_xml = zin.read("xl/worksheets/sheet1.xml").decode()
    with zipfile.ZipFile(multi, "a") as zout:
        for i in range(2, 13):
            zout.writestr(
                f"xl/worksheets/sheet{i}.xml",
                sheet_xml.replace(">s1<", f">s{i}<"),
            )
    # the inline string payload is per-sheet, so ordering is observable
    assert xlsx.parse_xlsx_rows(multi, sheet=2)[0] == ["s3"]
    assert xlsx.parse_xlsx_rows(multi, sheet=9)[0] == ["s10"]
    assert xlsx.parse_xlsx_rows(multi, sheet=11)[0] == ["s12"]


def test_read_json_with_nested_schema(spark, tmp_path):
    from data_integration_and_visualization_uc3m_spark.schemas import RAW_POPULATION
    from data_integration_and_visualization_uc3m_spark.sources.readers import read_jsonl

    p = tmp_path / "rows.jsonl"
    p.write_text(
        '{"countryiso3code":"ESP","country":{"id":"ES","value":"Spain"},"value":"47000000","year_id":2019}\n'
        '{"countryiso3code":"FRA","country":{"id":"FR","value":null},"value":"bad","year_id":2019}\n'
    )
    df = read_jsonl(spark, str(p), RAW_POPULATION)
    rows = {r.countryiso3code: r for r in df.collect()}
    assert rows["ESP"].country.value == "Spain"
    assert rows["FRA"].country.value is None  # nested null preserved


def test_parquet_snapshot_and_viz_csv(spark, tmp_path):
    df = year_dim(spark)
    writers.write_parquet_snapshot(df, str(tmp_path / "snap"))
    assert spark.read.parquet(str(tmp_path / "snap")).count() == 5
    writers.write_viz_csv(df, str(tmp_path / "viz"))
    files = [f for f in os.listdir(tmp_path / "viz") if f.endswith(".csv")]
    assert len(files) == 1  # coalesce(1): single file egress


def test_jdbc_writer_is_configured_only(spark):
    w = writers.jdbc_writer(year_dim(spark), "jdbc:postgresql://x/db", "year")
    assert w is not None  # construct-only: no driver jar in this image


def test_parquet_schema_evolution_merge(spark):
    # files written before a column existed must read back with NULLs,
    # not fail — the long-lived-table contract. The registered query
    # writes even-keyed orders without o_totalprice, odd-keyed with it,
    # and reads both back with mergeSchema.
    from pyspark.sql import functions as F

    from data_integration_and_visualization_uc3m_spark import queries as Q
    from data_integration_and_visualization_uc3m_spark.sources.readers import load_table

    got = {
        r.o_orderstatus: r
        for r in Q.REGISTRY["schema_evolution_union"].fn(spark, SF).collect()
    }
    want = {
        r.o_orderstatus: (r.n, r.n_odd)
        for r in load_table(spark, SF, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("o_orderkey") % 2 == 1, 1)).alias("n_odd"),
        )
        .collect()
    }
    assert {s: (r.n_rows, r.n_with_price) for s, r in got.items()} == want
    for r in got.values():
        assert r.n_with_price < r.n_rows  # old-batch rows NULL-fill the column


def test_orc_roundtrip(spark, tmp_path):
    from data_integration_and_visualization_uc3m_spark.sinks.writers import write_orc_snapshot
    from data_integration_and_visualization_uc3m_spark.sources.readers import load_table, read_orc

    src = load_table(spark, SF, "nation")
    path = str(tmp_path / "nation_orc")
    write_orc_snapshot(src, path)
    back = read_orc(spark, path)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_python_datasource_paginated_rest(spark):
    """Spark 4 custom Python DataSource: pages become InputPartitions,
    rows materialize executor-side, year injected per partition."""
    from data_integration_and_visualization_uc3m_spark.sources.pyds import PaginatedRestDataSource

    spark.dataSource.register(PaginatedRestDataSource)
    df = (
        spark.read.format("paginated_rest")
        .schema("indicator string, value double, year_id int")
        .option("url_template", "https://api.example/{year}?fmt=json")
        .option("years", "2018,2019,2020")
        .option("fetcher", "synthetic:5")
        .load()
    )
    rows = df.collect()
    assert len(rows) == 15  # 3 years x 5 synthetic rows
    assert {r.year_id for r in rows} == {2018, 2019, 2020}
    # one input partition per year → parallel executor-side fetch
    assert df.rdd.getNumPartitions() == 3
    # deterministic synthetic content ties rows to their page URL
    assert all(r.indicator.startswith("2") and "-r" in r.indicator for r in rows)


def test_python_streaming_datasource_rest_poll(spark):
    """Spark 4 Python STREAMING DataSource: page-cursor offsets, bounded
    exhaustion, exactly-once landing across micro-batches."""
    from data_integration_and_visualization_uc3m_spark.sources.pyds import run_rest_poll_stream

    df = run_rest_poll_stream(
        spark,
        "http://api.local/d/{page}?fmt=json",
        "indicator string, value double, page_id int",
        last_page=7,
        pages_per_batch=2,
        fetcher="synthetic:4",
        query_name="t_rest_poll_unit",
    )
    rows = df.collect()
    assert len(rows) == 28  # 7 pages x 4 rows, no batch double-counted
    assert {r.page_id for r in rows} == set(range(1, 8))


def test_rest_poll_reader_offsets_and_replay():
    """Reader contract, no Spark: the cursor advances per batch, parks
    at exhaustion, and readBetweenOffsets replays a committed range
    bit-identically (the recovery path)."""
    from pyspark.sql.types import StructType

    from data_integration_and_visualization_uc3m_spark.sources.pyds import RestPollStreamReader

    schema = StructType.fromDDL("indicator string, value double, page_id int")
    r = RestPollStreamReader(
        schema,
        {
            "url_template": "http://api.local/d/{page}",
            "last_page": "3",
            "pages_per_batch": "2",
            "fetcher": "synthetic:4",
        },
    )
    o0 = r.initialOffset()
    assert o0 == {"page": 1}
    batch1, o1 = r.read(o0)
    assert o1 == {"page": 3} and len(list(batch1)) == 8
    batch2, o2 = r.read(o1)
    assert o2 == {"page": 4} and len(list(batch2)) == 4
    empty, o3 = r.read(o2)
    assert o3 == o2 and list(empty) == []  # parked, stream drains
    # replay of the committed [1,3) range is bit-identical
    replay = list(r.readBetweenOffsets(o0, o1))
    fresh, _ = r.read(o0)
    assert replay == list(fresh)


def test_python_datasource_bad_fetcher_spec(spark):
    from data_integration_and_visualization_uc3m_spark.sources.pyds import PaginatedRestDataSource

    spark.dataSource.register(PaginatedRestDataSource)
    df = (
        spark.read.format("paginated_rest")
        .schema("indicator string, value double")
        .option("url_template", "x/{page}")
        .option("pages", "1,2")
        .option("fetcher", "nonsense")
        .load()
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="fetcher must be"):
        df.collect()


def test_jsonl_roundtrip_microsecond_faithful(spark, tmp_path):
    import datetime

    from pyspark.sql import functions as F

    from data_integration_and_visualization_uc3m_spark.sinks.writers import write_jsonl
    from data_integration_and_visualization_uc3m_spark.sources.readers import read_jsonl
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    rows = [
        (1, datetime.datetime(2024, 1, 1, 0, 0, 7, 179575), 1.5),
        (2, datetime.datetime(2024, 6, 30, 23, 59, 59, 999999), -0.25),
    ]
    df = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "jl")
    write_jsonl(df, path)
    back = read_jsonl(spark, path, schema)
    got = {r.id: r for r in back.collect()}
    for i, ts, v in rows:
        assert got[i].ts == ts  # micros survive the text roundtrip
        assert got[i].v == v


def test_synthetic_dim_deterministic_and_shaped(spark):
    from data_integration_and_visualization_uc3m_spark.sources.readers import synthetic_dim

    a = synthetic_dim(spark, 500).collect()
    b = synthetic_dim(spark, 500).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # reproducible
    assert len(a) == 500
    cats = {r["category"] for r in a}
    assert cats <= {f"cat_{i}" for i in range(8)} and len(cats) == 8
    assert all(100 <= r["price_cents"] < 100_000 for r in a)
    frac = sum(r["in_stock"] for r in a) / len(a)
    assert 0.7 < frac < 0.9
    # a different seed draws different rows
    c = synthetic_dim(spark, 500, seed="other").collect()
    assert sorted(map(tuple, a)) != sorted(map(tuple, c))


def test_rest_poll_stream_resumes_from_checkpoint(spark, tmp_path):
    """Exactly-once across RESTARTS: a second run sharing the first
    run's checkpoint resumes from the committed page cursor — earlier
    pages are not re-fetched, later pages land exactly once."""
    from data_integration_and_visualization_uc3m_spark.sources.pyds import (
        PaginatedRestDataSource,
    )

    spark.dataSource.register(PaginatedRestDataSource)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run(last_page: int) -> None:
        stream = (
            spark.readStream.format("paginated_rest")
            .schema("indicator string, value double, page_id int")
            .option("url_template", "http://api.local/d/{page}")
            .option("last_page", str(last_page))
            .option("pages_per_batch", "2")
            .option("fetcher", "synthetic:4")
            .load()
        )
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run(last_page=3)
    first = spark.read.parquet(out).groupBy("page_id").count().collect()
    assert {r.page_id: r["count"] for r in first} == {1: 4, 2: 4, 3: 4}

    # "restart" with more pages now available: same checkpoint, the
    # committed cursor (page 4) is where ingestion resumes
    run(last_page=6)
    second = spark.read.parquet(out).groupBy("page_id").count().collect()
    assert {r.page_id: r["count"] for r in second} == {
        1: 4, 2: 4, 3: 4, 4: 4, 5: 4, 6: 4,
    }  # pages 1-3 NOT duplicated, 4-6 exactly once


def test_jsonl_dir_writer_commit_roundtrip(spark, tmp_path):
    """The Python DataSource writer's two-phase protocol: tasks write
    tmp parts on executors, the driver commit renames them and writes
    the manifest — data and counts round-trip exactly."""
    import json
    import os

    from data_integration_and_visualization_uc3m_spark.sinks.pyds_writer import (
        read_manifest,
        register_jsonl_dir,
    )

    register_jsonl_dir(spark)
    out = str(tmp_path / "sink")
    df = spark.range(0, 100).selectExpr(
        "id", "concat('u', id % 7) AS user", "id * 11 AS score"
    ).repartition(4)
    df.write.format("jsonl_dir").option("path", out).mode("append").save()

    man = read_manifest(out)
    assert man["n_rows"] == 100 and man["n_parts"] == 4
    assert sum(p["n_rows"] for p in man["parts"]) == 100
    names = sorted(os.listdir(out))
    assert not any(n.endswith(".tmp") for n in names)
    rows = []
    for p in man["parts"]:
        with open(os.path.join(out, p["file"]), encoding="utf-8") as fh:
            rows += [json.loads(line) for line in fh]
    assert sorted(r["id"] for r in rows) == list(range(100))
    assert all(r["score"] == r["id"] * 11 for r in rows)


def test_jsonl_dir_writer_abort_leaves_nothing_visible(spark, tmp_path):
    """A task failure must fail the save, and the abort hook must
    leave NO manifest and NO visible part files — the atomicity
    contract a manifest-honoring reader depends on."""
    import os

    import pytest as _pytest

    from data_integration_and_visualization_uc3m_spark.sinks.pyds_writer import (
        MANIFEST,
        register_jsonl_dir,
    )

    register_jsonl_dir(spark)
    out = str(tmp_path / "sink_abort")
    df = spark.range(0, 40).repartition(4)
    with _pytest.raises(Exception):
        (df.write.format("jsonl_dir")
         .option("path", out)
         .option("fail_partition", "2")
         .mode("append").save())
    if os.path.isdir(out):
        names = os.listdir(out)
        assert MANIFEST not in names
        assert not any(n.endswith(".jsonl") for n in names)
        # abort sweeps orphan tmp files too — the failing task raised
        # BEFORE returning its commit message, so its partial
        # part-*.jsonl.tmp is invisible to the message list and must be
        # removed by the directory sweep
        assert not any(n.endswith(".jsonl.tmp") for n in names)


def test_jsonl_dir_writer_overwrite_removes_stale_parts(spark, tmp_path):
    """mode('overwrite') must delete prior committed parts not in the
    new manifest: a manifest-ignoring reader would otherwise see merged
    stale+new data (ADVICE r9)."""
    import os

    from data_integration_and_visualization_uc3m_spark.sinks.pyds_writer import (
        read_manifest,
        register_jsonl_dir,
    )

    register_jsonl_dir(spark)
    out = str(tmp_path / "sink_ow")
    big = spark.range(0, 80).repartition(8)
    big.write.format("jsonl_dir").option("path", out).mode("append").save()
    assert read_manifest(out)["n_parts"] == 8

    small = spark.range(0, 6).repartition(2)
    (small.write.format("jsonl_dir")
     .option("path", out).mode("overwrite").save())
    man = read_manifest(out)
    assert man["n_parts"] == 2 and man["n_rows"] == 6
    on_disk = sorted(
        n for n in os.listdir(out) if n.endswith(".jsonl")
    )
    assert on_disk == sorted(p["file"] for p in man["parts"])
    # every surviving row came from the second write
    total = 0
    for p in man["parts"]:
        with open(os.path.join(out, p["file"]), encoding="utf-8") as fh:
            for line in fh:
                total += 1
    assert total == 6


def test_jsonl_dir_abort_scoped_to_own_job(tmp_path):
    """abort() must sweep only THIS job's orphan tmp parts (matched on
    the job_id embedded in tmp names) — a concurrent writer to the
    same path keeps its in-flight tmp files (ADVICE r10)."""
    import os

    from data_integration_and_visualization_uc3m_spark.sinks.pyds_writer import (
        JsonlDirWriter,
    )

    out = str(tmp_path / "sink_shared")
    os.makedirs(out)
    wa = JsonlDirWriter({"path": out}, overwrite=False)
    wb = JsonlDirWriter({"path": out}, overwrite=False)
    assert wa.job_id != wb.job_id
    a_tmp = os.path.join(out, f"part-00000-1-{wa.job_id}.jsonl.tmp")
    b_tmp = os.path.join(out, f"part-00000-2-{wb.job_id}.jsonl.tmp")
    for p in (a_tmp, b_tmp):
        with open(p, "w") as fh:
            fh.write('{"id": 1}\n')
    # job B aborts with a task that never returned (message None) — its
    # orphan is swept, job A's in-flight tmp part survives
    wb.abort([None])
    assert os.path.exists(a_tmp)
    assert not os.path.exists(b_tmp)


def test_jsonl_dir_overwrite_publishes_manifest_before_sweep(tmp_path, monkeypatch):
    """Crash-window contract (ADVICE r10): overwrite commit publishes
    the NEW manifest atomically BEFORE deleting stale parts, so a crash
    mid-sweep leaves a manifest whose every named part exists — orphan
    stale files at worst, never dangling manifest entries."""
    import json
    import os

    from data_integration_and_visualization_uc3m_spark.sinks import pyds_writer
    from data_integration_and_visualization_uc3m_spark.sinks.pyds_writer import (
        JsonlDirWriter,
        PartFileCommit,
        read_manifest,
    )

    out = str(tmp_path / "sink_crash")
    os.makedirs(out)
    # a previously committed part from an older job
    stale = os.path.join(out, "part-00000-9-oldjob.jsonl")
    with open(stale, "w") as fh:
        fh.write('{"id": 99}\n')
    # the new job's renamed-but-not-yet-manifested tmp part
    w = JsonlDirWriter({"path": out}, overwrite=True)
    new_tmp = os.path.join(out, f"part-00000-1-{w.job_id}.jsonl.tmp")
    with open(new_tmp, "w") as fh:
        fh.write('{"id": 1}\n')

    real_remove = os.remove

    def crash_on_sweep(path):
        if path.endswith(".jsonl") and "oldjob" in path:
            raise OSError("injected crash during stale-part sweep")
        real_remove(path)

    monkeypatch.setattr(pyds_writer.os, "remove", crash_on_sweep)
    msg = PartFileCommit(tmp_path=new_tmp, n_rows=1, partition_id=0)
    try:
        w.commit([msg])
    except OSError:
        pass  # the injected crash
    # manifest was already published and every part it names exists
    man = read_manifest(out)
    assert man["n_rows"] == 1 and man["n_parts"] == 1
    for p in man["parts"]:
        part_path = os.path.join(out, p["file"])
        assert os.path.exists(part_path)
        with open(part_path, encoding="utf-8") as fh:
            assert json.loads(fh.readline())["id"] == 1


def test_jsonl_dir_stream_writer_per_epoch_manifests(spark, tmp_path):
    """STREAMING write through the Python DataSource sink: a file
    stream drained with maxFilesPerTrigger=1 commits one atomic
    manifest per micro-batch; the union of all epochs' parts
    round-trips every input row exactly once, and no tmp files
    survive."""
    import json
    import os

    from data_integration_and_visualization_uc3m_spark.sinks.pyds_writer import (
        read_stream_manifests,
        register_jsonl_dir,
    )

    register_jsonl_dir(spark)
    src = str(tmp_path / "src")
    out = str(tmp_path / "stream_sink")
    ckpt = str(tmp_path / "ckpt")
    # three source files -> three micro-batches
    for i in range(3):
        spark.range(i * 10, i * 10 + 10).selectExpr(
            "id", "id * 7 AS v"
        ).coalesce(1).write.mode(
            "append" if i else "overwrite"
        ).parquet(src)

    stream = spark.readStream.schema("id long, v long").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        stream.writeStream.format("jsonl_dir")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    manifests = read_stream_manifests(out)
    assert [m["batch_id"] for m in manifests] == list(
        range(len(manifests))
    )
    assert len(manifests) >= 2  # maxFilesPerTrigger=1 over 3 files
    assert sum(m["n_rows"] for m in manifests) == 30
    rows = []
    for m in manifests:
        for p in m["parts"]:
            with open(os.path.join(out, p["file"]), encoding="utf-8") as fh:
                rows += [json.loads(line) for line in fh]
    assert sorted(r["id"] for r in rows) == list(range(30))
    assert all(r["v"] == r["id"] * 7 for r in rows)
    assert not any(
        n.endswith(".tmp") for n in os.listdir(out)
    )


def test_jsonl_dir_batch_reader_honors_manifest(spark, tmp_path):
    """The DataSource batch reader must surface exactly the
    manifest-committed parts: an orphan .jsonl in the directory is
    invisible to format('jsonl_dir') while spark.read.json sees it."""
    from data_integration_and_visualization_uc3m_spark.sinks.pyds_writer import (
        register_jsonl_dir,
    )

    register_jsonl_dir(spark)
    out = str(tmp_path / "d")
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.25), (3, "a", 3.0)],
        "k long, s string, v double",
    )
    df.repartition(2).write.format("jsonl_dir").option("path", out).mode(
        "append"
    ).save()
    with open(f"{out}/part-99999-0-orphan.jsonl", "w") as fh:
        fh.write('{"k": 99, "s": "zz", "v": 0.0}\n')
    back = (
        spark.read.format("jsonl_dir")
        .schema("k long, s string, v double")
        .option("path", out)
        .load()
    )
    got = sorted((r["k"], r["s"], r["v"]) for r in back.collect())
    assert got == [(1, "a", 1.5), (2, "b", 2.25), (3, "a", 3.0)]
    raw = spark.read.schema("k long, s string, v double").json(f"{out}/*.jsonl")
    assert raw.count() == 4  # the raw glob DOES see the orphan


def test_jsonl_dir_batch_reader_reads_stream_epochs(spark, tmp_path):
    """On a STREAM sink directory (per-epoch manifests) the batch
    reader unions all committed epochs."""
    from data_integration_and_visualization_uc3m_spark.sinks.pyds_writer import (
        register_jsonl_dir,
    )

    register_jsonl_dir(spark)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "k long, v double"
    )
    df.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.format("jsonl_dir")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    back = (
        spark.read.format("jsonl_dir")
        .schema("k long, v double")
        .option("path", out)
        .load()
    )
    assert sorted(r["k"] for r in back.collect()) == list(range(20))


def test_jsonl_dir_reader_requires_schema(spark, tmp_path):
    from data_integration_and_visualization_uc3m_spark.sinks.pyds_writer import (
        register_jsonl_dir,
    )
    import pytest as _pytest

    register_jsonl_dir(spark)
    with _pytest.raises(Exception, match="schema"):
        spark.read.format("jsonl_dir").option(
            "path", str(tmp_path)
        ).load().collect()


def test_events_footer_read_once_per_file_version(spark, tmp_path):
    """The events read infers its at-rest schema from the parquet footer
    once per (path, size, mtime): a warm call launches no Spark job, and
    rewriting the file in another ts unit is read with the new footer."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_integration_and_visualization_uc3m_spark.sources.readers import load_table

    sc = spark.sparkContext
    load_table(spark, SF, "events")
    sc.setJobGroup("events_warm_read", "warm events load_table")
    try:
        load_table(spark, SF, "events")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("events_warm_read")) == []

    stamps = [
        datetime.datetime(2024, 1, 1, 0, 0, 7, 179575),
        datetime.datetime(2024, 6, 30, 23, 59, 59, 999999),
    ]

    def write(unit):
        table = pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(stamps, pa.timestamp("us")).cast(pa.timestamp(unit)),
            "user_id": pa.array([10, 20], pa.int64()),
            "event_type": pa.array(["view", "click"]),
            "value": pa.array([1.5, 2.5]),
            "props": pa.array(["{}", "{}"]),
        })
        pq.write_table(table, str(tmp_path / "events.parquet"), coerce_timestamps=None)
        assert pq.read_schema(str(tmp_path / "events.parquet")).field("ts").type.unit == unit

    def read_ts():
        rows = load_table(spark, str(tmp_path), "events").collect()
        return sorted((r.event_id, r.ts) for r in rows)

    write("ns")
    nanos = read_ts()
    write("us")
    assert read_ts() == nanos == [(1, stamps[0]), (2, stamps[1])]
