"""Round 8 additions: full ISO 3166-1 universe, map positions, viz
trace/point specs, live Derby JDBC round-trip."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_integration_and_visualization_uc3m_spark.functions import geo, iso3166
from data_integration_and_visualization_uc3m_spark.operators import joins
from data_integration_and_visualization_uc3m_spark.plans import star

SF = "/root/testdata/sf0.001"


def test_universe_shape():
    # the reference's pycountry loop yields 249 ISO 3166-1 countries
    assert len(iso3166.COUNTRIES) == 249
    rows = iso3166.alias_rows()
    assert len(rows) == len({a for a, _, _ in rows})  # alias is a key
    d = {a: (i, n) for a, i, n in rows}
    # every alpha-2 and alpha-3 resolves to itself
    for a2, a3, name, official in iso3166.COUNTRIES:
        assert d[a2.lower()] == (a3, name)
        assert d[a3.lower()] == (a3, name)
        assert d[name.lower()] == (a3, name)
        if official:
            assert d[official.lower()][0] == a3
    # Eurostat quirks (etl:271-276)
    assert d["el"] == ("GRC", "Greece")
    assert d["uk"] == ("GBR", "United Kingdom")


def test_star_iso2_map_is_full_universe():
    assert len(star.ISO2_TO_ISO3) == 251  # 249 + EL + UK
    assert star.ISO2_TO_ISO3["EL"] == "GRC"
    assert star.ISO2_TO_ISO3["UK"] == "GBR"
    assert star.ISO2_TO_ISO3["JP"] == "JPN"  # non-European now resolves
    assert star.ISO2_TO_ISO3["BR"] == "BRA"


def test_alias_lookup_fallback_semantics(spark):
    # COUNTRIES_MAP.get(k, default) — misses keep the normalized input
    probe = spark.createDataFrame(
        [("EL",), ("Deutschland",), (" france ",)], "geo string"
    )
    out = joins.lookup_join_with_fallback(
        probe,
        iso3166.alias_relation(spark).select(
            F.col("alias"), F.col("canonical_name").alias("canonical")
        ),
        F.lower(F.trim("geo")),
        "norm",
    )
    got = {r.geo: r.norm for r in out.collect()}
    assert got["EL"] == "Greece"
    assert got[" france "] == "France"
    assert got["Deutschland"] == "deutschland"  # miss → fallback


def test_positions_cover_all_nation_keys(spark):
    assert [k for k, _, _, _ in geo.NATION_POSITIONS] == list(range(25))
    assert geo.positions_relation(spark).count() == 25


@pytest.mark.parametrize("name", [
    "lookup_join_fallback", "country_alias_normalize",
    "scattergeo_trace_specs", "viz_point_specs",
])
def test_lookup_queries_scan_local_relations(spark, name):
    # A lookup built with createDataFrame(list) plans ExistingRDD, a
    # Python-RDD scan that starts Python workers on every execution.
    from data_integration_and_visualization_uc3m_spark.queries import REGISTRY

    df = REGISTRY[name].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_scattergeo_trace_specs(spark):
    from data_integration_and_visualization_uc3m_spark import queries

    rows = queries.scattergeo_trace_specs(spark, SF).collect()
    assert len(rows) == 25  # one point per nation
    by_rank = sorted(rows, key=lambda r: -r.marker_size)
    # positional limit buckets (MAPS:15): 3 / 8 / 10 / rest
    traces = [r.trace_name for r in by_rank]
    assert traces[:3] == ["0 - 3"] * 3
    assert traces[3:11] == ["3 - 11"] * 8
    assert traces[11:21] == ["11 - 21"] * 10
    assert set(traces[21:]) == {"21 - 50"}
    for r in rows:
        assert r.locationmode == "ISO-3"
        assert r.line_color == "rgb(40,40,40)"
        assert r.line_width == 0.5
        assert r.sizemode == "area"
        assert "<br>Immigration " in r.text and "\n Crime" in r.text
        assert len(r.iso3) == 3


def test_viz_point_specs(spark):
    from data_integration_and_visualization_uc3m_spark import queries

    rows = queries.viz_point_specs(spark, SF).collect()
    assert rows
    r = rows[0]
    assert r.point_spec.startswith("point in (")
    assert f" and color {r.color_value}" in r.point_spec


def test_jdbc_roundtrip_live_derby(spark):
    from data_integration_and_visualization_uc3m_spark import queries

    got = {
        (r.o_orderstatus, r.order_year): (r.n_orders, r.total_revenue)
        for r in queries.jdbc_roundtrip_report(spark, SF).collect()
    }
    # the same aggregate straight from parquet must agree — lossless
    direct = (
        queries._t(spark, SF, "orders")
        .groupBy("o_orderstatus", F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_revenue"),
        )
    )
    want = {
        (r.o_orderstatus, r.order_year): (r.n_orders, r.total_revenue)
        for r in direct.collect()
    }
    assert got == want


def test_hybrid_rrf_fusion(spark):
    from data_integration_and_visualization_uc3m_spark import queries
    from data_integration_and_visualization_uc3m_spark.operators import similarity

    out = queries.hybrid_rrf_topk(spark, SF).collect()
    assert 0 < len(out) <= 20
    # fused order is by descending rrf score, doc_id tiebreak
    scores = [r.rrf_fp9 for r in out]
    assert scores == sorted(scores, reverse=True)
    for r in out:
        assert r.lex_rank is not None or r.vec_rank is not None
        want = 0
        if r.lex_rank is not None:
            want += int(1e9 // (60 + r.lex_rank))
        if r.vec_rank is not None:
            want += int(1e9 // (60 + r.vec_rank))
        assert r.rrf_fp9 == want

    # operator semantics on a toy pair of arms: doc 1 in both arms
    # must outrank docs appearing in only one
    a = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rank int")
    b = spark.createDataFrame([(1, 2), (3, 1)], "doc_id long, rank int")
    fused = {r.doc_id: r.rrf_fp9 for r in similarity.rrf_fuse(a, b).collect()}
    assert fused[1] == int(1e9 // 61) + int(1e9 // 62)
    assert fused[1] > fused[3] > 0


def test_ivfpq_composite(spark):
    from data_integration_and_visualization_uc3m_spark import queries
    from data_integration_and_visualization_uc3m_spark.operators import similarity

    out = queries.ivfpq_topk(spark, SF).collect()
    assert len(out) == 10
    dists = [r.adc_dist_nano for r in out]
    assert dists == sorted(dists)  # ranked ascending by ADC distance
    # every survivor must come from one of the 3 probed cells
    e = queries._t(spark, SF, "embeddings")
    probed = {
        r.block
        for r in similarity._probe_blocks(
            e, e.filter(F.col("vec_id") == 0), 3, "label", "embedding"
        ).collect()
    }
    assert len(probed) == 3
    assert {r.label for r in out} <= probed


def test_jdbc_upsert_ignore_live_pk_constraint(spark):
    """K2 executed against a LIVE PRIMARY KEY: the anti-join
    conflict-ignore path must let a second batch with overlapping keys
    load into a Derby table whose PK would reject a blind append —
    the ON CONFLICT DO NOTHING semantics of etl:332-345, proven
    against a real constraint instead of only the DataFrame twin."""
    from py4j.java_gateway import java_import

    from data_integration_and_visualization_uc3m_spark.operators import upsert
    from data_integration_and_visualization_uc3m_spark.sinks.writers import jdbc_writer

    url = "jdbc:derby:memory:sg_upsert;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    jvm = spark._jvm
    java_import(jvm, "java.sql.DriverManager")
    conn = jvm.DriverManager.getConnection(url)
    st = conn.createStatement()
    try:
        st.execute("DROP TABLE SG_DIM")
    except Exception:
        pass
    st.execute(
        "CREATE TABLE SG_DIM (K BIGINT NOT NULL PRIMARY KEY, V DOUBLE)"
    )
    conn.close()

    batch1 = spark.range(1, 11).selectExpr("id as K", "cast(id * 1.5 as double) as V")
    jdbc_writer(batch1, url, "SG_DIM", batchsize=1000, mode="append", properties=props).save()

    def read_back():
        return (
            spark.read.format("jdbc")
            .option("url", url)
            .option("dbtable", "SG_DIM")
            .option("driver", props["driver"])
            .load()
        )

    # a blind append of overlapping keys must be REJECTED by the live PK
    batch2 = spark.range(6, 16).selectExpr("id as K", "cast(id * 2.0 as double) as V")
    import pytest as _pytest

    with _pytest.raises(Exception):
        jdbc_writer(batch2, url, "SG_DIM", mode="append", properties=props).save()

    # the K2 path: anti-join against current target, append only fresh keys
    target = read_back()
    fresh = upsert.upsert_ignore(target, batch2, keys=["K"]).join(
        target.select("K"), "K", "left_anti"
    )
    jdbc_writer(fresh, url, "SG_DIM", mode="append", properties=props).save()

    final = read_back().collect()
    assert len(final) == 15
    byk = {r.K: r.V for r in final}
    assert len(byk) == 15
    assert byk[6] == 9.0   # conflict ignored — original batch1 value kept
    assert byk[15] == 30.0  # fresh key loaded from batch2


def test_jdbc_atomic_append_all_or_nothing(spark):
    """K3 live: stage-then-swap makes the target table all-or-nothing —
    a batch with ONE conflicting key must change NOTHING (the
    reference's per-table rollback, etl:322-331), then a clean batch
    loads fully."""
    from py4j.java_gateway import java_import

    from data_integration_and_visualization_uc3m_spark.sinks.writers import (
        jdbc_atomic_append,
        jdbc_writer,
    )

    url = "jdbc:derby:memory:sg_atomic;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    jvm = spark._jvm
    java_import(jvm, "java.sql.DriverManager")
    conn = jvm.DriverManager.getConnection(url)
    st = conn.createStatement()
    try:
        st.execute("DROP TABLE SG_FACT")
    except Exception:
        pass
    st.execute("CREATE TABLE SG_FACT (K BIGINT NOT NULL PRIMARY KEY, V DOUBLE)")
    conn.close()

    base = spark.range(1, 6).selectExpr("id as K", "cast(id as double) as V")
    assert jdbc_atomic_append(base, url, "SG_FACT", properties=props) == 5

    def read_back():
        return (
            spark.read.format("jdbc")
            .option("url", url)
            .option("dbtable", "SG_FACT")
            .option("driver", props["driver"])
            .load()
        )

    # poisoned batch: keys 6-9 are fresh, key 5 conflicts → whole batch out
    poisoned = spark.range(5, 10).selectExpr("id as K", "cast(id * 10 as double) as V")
    import pytest as _pytest

    with _pytest.raises(Exception):
        jdbc_atomic_append(poisoned, url, "SG_FACT", properties=props)
    after_fail = read_back().collect()
    assert sorted(r.K for r in after_fail) == [1, 2, 3, 4, 5]  # unchanged
    assert {r.K: r.V for r in after_fail}[5] == 5.0

    clean = spark.range(6, 10).selectExpr("id as K", "cast(id * 10 as double) as V")
    assert jdbc_atomic_append(clean, url, "SG_FACT", properties=props) == 4
    assert read_back().count() == 9


def test_lsh_recall_report(spark):
    from data_integration_and_visualization_uc3m_spark import queries

    [r] = queries.lsh_recall_report(spark, SF).collect()
    assert r.n_truth_pairs > 0  # non-vacuous on the synthetic corpus
    assert 0 <= r.n_candidates_true <= r.n_candidates
    assert r.n_candidates_true <= r.n_truth_pairs
    # fp6 ratios recompute exactly from the counts
    assert r.recall_fp6 == int(r.n_candidates_true * 1e6) // r.n_truth_pairs
    assert r.precision_fp6 == int(r.n_candidates_true * 1e6) // r.n_candidates


def test_png_synthesis_is_real_png_header(spark):
    """Independent check of the binary codec: the synthesized payload
    must parse with plain Python struct exactly as a PNG header —
    proving the engine-side bytes are the real format, not a private
    convention."""
    import struct

    from data_integration_and_visualization_uc3m_spark.operators import multimodal

    dims = spark.createDataFrame(
        [(1, 640, 360), (2, 17, 4000)],
        "media_id long, width_px long, height_px long",
    )
    rows = {r.media_id: bytes(r.payload)
            for r in multimodal.synthesize_png(dims).collect()}
    for mid, (w, h) in {1: (640, 360), 2: (17, 4000)}.items():
        b = rows[mid]
        assert b[:8] == b"\x89PNG\r\n\x1a\n"
        length, ctype = struct.unpack(">I4s", b[8:16])
        assert (length, ctype) == (13, b"IHDR")
        pw, ph, depth, color = struct.unpack(">IIBB", b[16:26])
        assert (pw, ph, depth, color) == (w, h, 8, 6)
    # and the engine-side parser inverts it
    parsed = {
        r.media_id: (r.width_px, r.height_px, r.png_sig_ok)
        for r in multimodal.png_header_dims(
            multimodal.synthesize_png(dims)
        ).collect()
    }
    assert parsed == {1: (640, 360, True), 2: (17, 4000, True)}
    # corrupted signature → sig not ok, dims null
    from pyspark.sql import functions as F2

    bad = multimodal.synthesize_png(dims).select(
        "media_id",
        F2.concat(F2.unhex(F2.lit("00")), F2.substring("payload", 2, 32)).alias("payload"),
    )
    for r in multimodal.png_header_dims(bad).collect():
        assert r.png_sig_ok is False and r.width_px is None


def test_wav_synthesis_is_real_wav_header(spark):
    """The WAV twin of the PNG check: the synthesized payload must
    parse with Python's stdlib wave module — a fully independent
    little-endian RIFF reader — and the engine-side parser inverts it;
    a corrupted magic yields sig-not-ok with null fields."""
    import io
    import wave

    from pyspark.sql import functions as F2

    from data_integration_and_visualization_uc3m_spark.operators import multimodal

    src = spark.createDataFrame(
        [(1, 44100, 2, 16, 1000), (2, 8000, 1, 8, 7)],
        "media_id long, sample_rate_hz long, n_channels long,"
        " bits_per_sample long, n_samples long",
    )
    payloads = {r.media_id: bytes(r.payload)
                for r in multimodal.synthesize_wav(src).collect()}
    for mid, (rate, ch, bits, ns) in {
        1: (44100, 2, 16, 1000), 2: (8000, 1, 8, 7),
    }.items():
        # pad the header-only payload with the advertised data bytes so
        # the stdlib reader accepts the stream
        blob = payloads[mid] + b"\x00" * (ns * ch * bits // 8)
        w = wave.open(io.BytesIO(blob))
        assert (
            w.getframerate(), w.getnchannels(), w.getsampwidth(),
            w.getnframes(),
        ) == (rate, ch, bits // 8, ns)
    parsed = {
        r.media_id: (r.sample_rate_hz, r.n_channels, r.bits_per_sample,
                     r.byte_rate, r.block_align, r.data_bytes,
                     r.wav_sig_ok)
        for r in multimodal.wav_header_meta(
            multimodal.synthesize_wav(src)
        ).collect()
    }
    assert parsed[1] == (44100, 2, 16, 44100 * 4, 4, 4000, True)
    assert parsed[2] == (8000, 1, 8, 8000, 1, 7, True)
    bad = multimodal.synthesize_wav(src).select(
        "media_id",
        F2.concat(
            F2.unhex(F2.lit("00")), F2.substring("payload", 2, 43)
        ).alias("payload"),
    )
    for r in multimodal.wav_header_meta(bad).collect():
        assert r.wav_sig_ok is False and r.sample_rate_hz is None


def test_feature_hash_embedding_matches_python_model(spark):
    """The engine's hashing-trick vectorizer equals a plain-Python
    reference: md5-parity bucket/sign, signed counts, exact ints."""
    import hashlib

    from data_integration_and_visualization_uc3m_spark.operators import text as t

    docs = spark.createDataFrame(
        [(1, "a b a  c"), (2, "b"), (3, "x y z x")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in t.feature_hash_embedding(docs, dim=64).collect()}

    odd = set("13579bdf")

    def model(words):
        vec = [0] * 64
        for w in words:
            h = hashlib.md5(w.encode()).hexdigest()
            bucket = sum((1 << k) for k in range(6) if h[k] in odd)
            vec[bucket] += 1 if h[6] in odd else -1
        return vec

    for doc_id, words in {1: ["a", "b", "a", "c"], 2: ["b"], 3: ["x", "y", "z", "x"]}.items():
        v = model(words)
        r = got[doc_id]
        assert list(r.embedding) == v
        assert r.n_tokens == len(words)
        assert r.norm2 == sum(c * c for c in v if c)


def test_cluster_aware_split_has_zero_leakage(spark):
    """The cluster-aware split must produce ZERO cross-split near-dup
    pairs, on a corpus where the naive hash split audit finds >0."""
    from data_integration_and_visualization_uc3m_spark import queries

    naive_leaks = queries.split_leakage_audit(spark, SF).count()
    assert naive_leaks > 0  # corpus genuinely has cross-split dups

    split = {
        r.doc_id: (r.cluster_root, r.split)
        for r in queries.cluster_aware_split(spark, SF).collect()
    }
    pairs = queries.dedup_minhash_lsh(spark, SF).select("id_a", "id_b").collect()
    assert pairs  # non-vacuous
    for p in pairs:
        assert split[p.id_a][1] == split[p.id_b][1]  # never straddles
        assert split[p.id_a][0] == split[p.id_b][0]  # same cluster root
    # singletons root to themselves
    clustered = {p.id_a for p in pairs} | {p.id_b for p in pairs}
    for doc, (root, _) in split.items():
        if doc not in clustered:
            assert root == doc
