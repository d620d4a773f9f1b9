"""Embedding similarity (cosine/LSH) and multimodal binary plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_integration_and_visualization_uc3m_spark.operators import multimodal, similarity


def vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_self_is_top(spark):
    e = vecs(
        spark,
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [-1.0, 0.0, 0.0]),
        ],
    )
    q = vecs(spark, [(99, [1.0, 0.0, 0.0])])
    got = similarity.cosine_topk_rel(e, q, k=2).collect()
    assert [r.vec_id for r in got] == [0, 1]
    assert abs(got[0].cosine - 1.0) < 1e-12


def test_lsh_bucket_identical_vectors_same_bucket(spark):
    e = vecs(spark, [(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0, 3.0]), (2, [-1.0, -2.0, -3.0])])
    got = {r.vec_id: r.bucket for r in similarity.lsh_bucket(e, n_planes=4).collect()}
    assert got[0] == got[1]
    assert got[0] != got[2]  # antipodal vector flips every plane sign


def test_lsh_bucket_overwidth_vector_raises(spark):
    # ADVICE r13 (medium): slice caps at the component-array length and
    # zip_with null-pads, so an over-width vector used to project NULL
    # on every plane and silently land in bucket 0. The guard must fail
    # loudly instead.
    e = vecs(spark, [(0, [1.0] * 5)])
    with pytest.raises(Exception, match="lsh_bucket: vector width"):
        similarity.lsh_bucket(e, n_planes=4, dim=4).collect()
    # exactly dim-wide is fine
    ok = similarity.lsh_bucket(e, n_planes=4, dim=5).collect()
    assert len(ok) == 1


def test_cosine_topk_rel_zero_norm_excluded(spark):
    # ADVICE r13: a zero-norm corpus vector scores 0/0 = NaN, and NaN
    # sorts above every double — it must be dropped, matching the
    # oracles' norm > 0 base relation. A zero-norm query yields an
    # empty result rather than NaN ranks.
    e = vecs(
        spark,
        [(0, [1.0, 0.0]), (1, [0.8, 0.6]), (2, [0.0, 0.0])],
    )
    got = similarity.cosine_topk_rel(
        e, e.filter(F.col("vec_id") == 0), k=3
    ).collect()
    assert [r.vec_id for r in got] == [0, 1]  # zero vector excluded
    empty = similarity.cosine_topk_rel(
        e, e.filter(F.col("vec_id") == 2), k=3
    ).collect()
    assert empty == []


def test_adaptive_cells_frees_staged_srp_checkpoint(spark):
    """r14 opt hygiene: adaptive_lsh_cells stages its SRP relation as
    an intermediate localCheckpoint (so the 12-plane fold runs once)
    and must unpersist it the moment the output checkpoint
    materializes — exactly ONE new persistent RDD (the returned
    relation) may linger, or long bench sessions re-accumulate
    storage blocks (the dedup_clusters 3-5x late-session lesson)."""
    jsc = spark.sparkContext._jsc.sc()

    def persisted_ids():
        return {info.id() for info in jsc.getRDDStorageInfo()}

    before = persisted_ids()
    e = vecs(
        spark,
        [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(40)],
    )
    keyed = similarity.adaptive_lsh_cells(e, cell_cap=4)
    after = persisted_ids()
    assert len(after - before) == 1  # the returned ck only; SRP freed
    # and the returned relation is usable (materialized, complete)
    assert keyed.count() == 40


def test_unpersist_ck_degrades_to_noop_when_plan_path_gone(spark, monkeypatch):
    """VERDICT r14 #8: the exact-id eager free leans on Spark-classic
    private API (queryExecution().analyzed().rdd()); when a Spark bump
    removes that path the helper must DEGRADE to the ContextCleaner GC
    behavior (skip the free, never raise, never free the wrong RDD) —
    the build still returns correct, materialized data."""
    from data_integration_and_visualization_uc3m_spark.operators import _ck

    jsc = spark.sparkContext._jsc.sc()

    def persisted_ids():
        return {info.id() for info in jsc.getRDDStorageInfo()}

    monkeypatch.setattr(_ck, "ck_rdd_id", lambda df: None)
    # similarity module binds unpersist_ck directly; patch its behavior
    # through the id reader it delegates to
    monkeypatch.setattr(
        similarity, "_unpersist_ck", _ck.unpersist_ck, raising=True
    )
    before = persisted_ids()
    e = vecs(
        spark,
        [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(40)],
    )
    keyed = similarity.adaptive_lsh_cells(e, cell_cap=4)
    after = persisted_ids()
    # the SRP intermediate lingers (2 blocks) — GC reclaims it later;
    # the point is graceful degradation, not leak-freedom
    assert len(after - before) == 2
    assert keyed.count() == 40
    # cleanup: free the lingering blocks so later tests see a clean slate
    for rid in after - before:
        _ck.unpersist_by_id(spark, rid)


def test_knn_graph_delta_merge_equals_frozen_rebuild(spark):
    # Incremental == batch: merging a delta through the FROZEN base
    # cells must equal rebuilding the whole graph with those same
    # cells. With 30 vectors every 4-bit bucket is under cell_cap, so
    # the frozen rebuild is knn_graph_lsh over the union (descent
    # never triggers and the counts don't matter).
    import random
    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    e = vecs(spark, rows)
    base = e.filter(F.col("vec_id") % 5 != 0)
    delta = e.filter(F.col("vec_id") % 5 == 0)
    merged = sorted(
        (r.src, r.dst) for r in
        similarity.knn_graph_delta_merge(base, delta, k=3).collect()
    )
    rebuilt = sorted(
        (r.src, r.dst) for r in
        similarity.knn_graph_lsh(e, k=3).collect()
    )
    assert merged == rebuilt and len(merged) > 0


def test_knn_graph_delta_delete_equals_frozen_rebuild(spark):
    # Deleting vectors and repairing incrementally must equal the
    # frozen-cell rebuild over survivors. Small corpus: all buckets
    # under cell_cap, so the frozen rebuild is knn_graph_lsh over the
    # survivors.
    import random
    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    e = vecs(spark, rows)
    dele = e.filter(F.col("vec_id") % 4 == 0).select("vec_id")
    repaired = sorted(
        (r.src, r.dst) for r in
        similarity.knn_graph_delta_delete(e, dele, k=3).collect()
    )
    rebuilt = sorted(
        (r.src, r.dst) for r in
        similarity.knn_graph_lsh(
            e.filter(F.col("vec_id") % 4 != 0), k=3
        ).collect()
    )
    assert repaired == rebuilt and len(repaired) > 0


def test_knn_beam_search_zero_norm_query_empty(spark):
    e = vecs(
        spark,
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [0.0, 0.0])],
    )
    knn = similarity.knn_graph_lsh(e, k=2)
    out = similarity.knn_beam_search(
        e, knn, e.filter(F.col("vec_id") == 3),
        e.filter(F.col("vec_id") < 2), beam=2, hops=1,
    ).collect()
    assert out == []  # zero-norm query visits nothing, loudly-empty


def test_media_payload_metadata(spark):
    d = spark.createDataFrame(
        [(1, "héllo", "en", "s")], "doc_id long, text string, lang string, source string"
    )
    media = multimodal.documents_as_media(d)
    r = multimodal.payload_metadata(media).collect()[0]
    assert r.n_bytes == 6  # é is 2 bytes utf8
    assert r.mime_type == "text/plain"
    assert len(r.content_hash) == 32


def test_extract_features_deterministic(spark):
    d = spark.createDataFrame(
        [(i, f"payload {i}", "en", "s") for i in range(10)],
        "doc_id long, text string, lang string, source string",
    )
    media = multimodal.documents_as_media(d)
    a = sorted(map(tuple, multimodal.extract_features(media).collect()))
    b = sorted(map(tuple, multimodal.extract_features(media).collect()))
    assert a == b
    assert all(0.0 <= row[2] <= 1.0 for row in a)


def test_extract_features_real_decode_raises(spark):
    d = spark.createDataFrame(
        [(1, "x", "en", "s")], "doc_id long, text string, lang string, source string"
    )
    media = multimodal.documents_as_media(d)
    with pytest.raises(Exception):  # DecoderUnavailable via PythonException
        multimodal.extract_features(media, fake=False).collect()


def test_frame_sample_plan(spark):
    d = spark.createDataFrame(
        [(1, "x" * 1000, "en", "s")], "doc_id long, text string, lang string, source string"
    )
    media = multimodal.documents_as_media(d)
    frames = multimodal.frame_sample_plan(media, every_n=2).collect()
    assert len(frames) == 5  # 10 frames, every 2nd
    assert [f.frame_index for f in frames] == [0, 2, 4, 6, 8]


def test_resize_images_bounded_payload(spark):
    from data_integration_and_visualization_uc3m_spark.operators import multimodal

    media = spark.createDataFrame(
        [(1, bytes(range(256)) * 40), (2, b""), (3, None)],
        "media_id long, payload binary",
    )
    out = {r.media_id: r for r in multimodal.resize_images(media, 8, 8).collect()}
    assert out[1].out_width == 8 and out[1].out_height == 8
    assert len(out[1].payload) <= 64
    assert out[2].payload == b"" and out[3].payload == b""
    # deterministic: same input -> same bytes
    again = {r.media_id: r.payload for r in multimodal.resize_images(media, 8, 8).collect()}
    assert again[1] == out[1].payload


def test_audio_chunks_cover_payload_exactly(spark):
    from data_integration_and_visualization_uc3m_spark.operators import multimodal

    media = spark.createDataFrame(
        [(1, b"x" * 40000), (2, b"y" * 100)], "media_id long, payload binary"
    )
    rows = multimodal.audio_chunk_plan(media, chunk_ms=1000, bytes_per_ms=16).collect()
    by_media = {}
    for r in rows:
        by_media.setdefault(r.media_id, []).append(r)
    # 40000 bytes at 16000 B/chunk -> 3 chunks (16000,16000,8000)
    c1 = sorted(by_media[1], key=lambda r: r.chunk_index)
    assert [(r.byte_offset, r.byte_length) for r in c1] == [
        (0, 16000), (16000, 16000), (32000, 8000)
    ]
    assert sum(r.byte_length for r in c1) == 40000
    c2 = by_media[2]
    assert len(c2) == 1 and c2[0].byte_length == 100


def test_quantize_embeddings_roundtrip_bound(spark):
    from data_integration_and_visualization_uc3m_spark.operators import similarity

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25], 0), (2, [0.0, 0.0, 0.0], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    got = {r.vec_id: r for r in similarity.quantize_embeddings(df).collect()}
    r1 = got[1]
    assert r1.scale == 1.0 and r1.dim == 3
    assert r1.codes == [63, -127, 31]  # floor(v/scale*127)
    # dequantized values within one quantization step of the original
    for orig, code in zip([0.5, -1.0, 0.25], r1.codes):
        assert abs(code * r1.scale / 127 - orig) <= r1.scale / 127
    r2 = got[2]
    assert r2.scale == 0.0 and r2.codes == [0, 0, 0]


def test_hard_negatives_label_and_k_contract(spark):
    from data_integration_and_visualization_uc3m_spark.operators import similarity

    # two tight clusters; anchors in label 0 must mine only label-1 vecs
    vecs = [
        (0, [1.0, 0.0], 0), (1, [0.9, 0.1], 0), (2, [0.95, 0.05], 0),
        (3, [0.0, 1.0], 1), (4, [0.1, 0.9], 1), (5, [0.8, 0.6], 1),
    ]
    e = spark.createDataFrame(vecs, "vec_id long, embedding array<float>, label int")
    anchors = e.filter("vec_id = 0")
    out = similarity.hard_negatives(e, anchors, k=2).collect()
    assert len(out) == 2
    assert all(r.anchor_id == 0 for r in out)
    mined = {r.vec_id for r in out}
    assert mined <= {3, 4, 5}  # never same-label
    # vec 5 ([0.8, 0.6]) is the hardest negative for [1, 0] — must rank first
    best = max(out, key=lambda r: r.cosine)
    assert best.vec_id == 5


def test_semdedup_flags_within_cluster_near_dup_keep_lowest(spark):
    from data_integration_and_visualization_uc3m_spark.operators import similarity

    # seeds span two directions; 1≈2 (near-dup, same cluster), 3 alone,
    # 4 is a zero vector (degenerate → dropped from the verdicts)
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.999, 0.001]),
        (3, [0.0, 1.0]),
        (4, [0.0, 0.0]),
    ]
    e = vecs(spark, rows)
    codebook = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "c int, centroid array<double>"
    )
    got = {
        r.vec_id: r
        for r in similarity.semdedup_rel(e, codebook, threshold=0.95).collect()
    }
    assert set(got) == {1, 2, 3}  # zero vector dropped
    assert got[1].cluster == 0 and got[2].cluster == 0 and got[3].cluster == 1
    assert not got[1].is_dup  # lowest id survives
    assert got[2].is_dup     # its near-dup is flagged
    assert not got[3].is_dup  # different cluster, never paired


def test_pq_codes_and_adc_small_example(spark):
    from data_integration_and_visualization_uc3m_spark.operators import similarity

    # dim 4, m=2 subspaces of 2; codebook from two seeds
    seeds = [[0.0, 0.0, 1.0, 1.0], [1.0, 1.0, 0.0, 0.0]]
    rows = [
        (0, seeds[0]),
        (1, seeds[1]),
        (2, [0.1, 0.0, 0.9, 1.0]),   # near seed0 in both subspaces
        (3, [0.9, 1.0, 0.1, 0.0]),   # near seed1 in both subspaces
        (4, [0.0, 0.1, 0.1, 0.0]),   # sub0→seed0, sub1→seed1
    ]
    e = vecs(spark, rows)
    codebook = spark.createDataFrame(
        list(enumerate(seeds)), "c int, centroid array<double>"
    )
    got = {
        r.vec_id: (r.c0, r.c1)
        for r in similarity.pq_codes_rel(e, codebook, m=2, dim=4).collect()
    }
    assert got[0] == (0, 0) and got[1] == (1, 1)
    assert got[2] == (0, 0) and got[3] == (1, 1)
    assert got[4] == (0, 1)
    # ADC with query = seed0: seed0-coded vectors rank first
    q = spark.createDataFrame([(seeds[0],)], "embedding array<float>")
    top = similarity.pq_adc_topk_rel(
        e, codebook, q, k=5, m=2, dim=4, n_centroids=2
    ).collect()
    order = [r.vec_id for r in top]
    assert order[0] in (0, 2) and set(order[:2]) == {0, 2}
    assert top[0].adc_dist_nano == 0  # exact codebook hit
    assert order[-1] in (1, 3)


def test_semdedup_rel_assigns_nothing_to_zero_norm_centroid(spark):
    """Cosine to a zero-norm centroid is 0/0 = NaN, which would win
    every argmax; the codebook filter keeps it out of the assignment."""
    from data_integration_and_visualization_uc3m_spark.operators import similarity

    e = vecs(spark, [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.7, 0.3])])
    codebook = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "c int, centroid array<double>",
    )
    got = {
        r.vec_id: r.cluster
        for r in similarity.semdedup_rel(e, codebook, threshold=0.95).collect()
    }
    assert got == {1: 1, 2: 2, 3: 1}


def test_pq_adc_topk_rel_rejects_gapped_codebook(spark):
    """Lookups index the distance table positionally, so centroid ids
    must be 0..n_centroids-1; ids 0 and 2 fail the guard instead of
    returning shifted distances."""
    import pytest

    from data_integration_and_visualization_uc3m_spark.operators import similarity

    e = vecs(spark, [(1, [0.0, 0.0, 1.0, 1.0]), (2, [1.0, 1.0, 0.0, 0.0])])
    codebook = spark.createDataFrame(
        [(0, [0.0, 0.0, 1.0, 1.0]), (2, [1.0, 1.0, 0.0, 0.0])],
        "c int, centroid array<double>",
    )
    q = spark.createDataFrame([([0.0, 0.0, 1.0, 1.0],)], "embedding array<float>")
    top = similarity.pq_adc_topk_rel(e, codebook, q, k=2, m=2, dim=4, n_centroids=2)
    with pytest.raises(Exception, match="contiguous centroid ids"):
        top.collect()


def test_maxsim_topk_ranks_passage_matches(spark):
    """Late-interaction property: an exact copy outranks a one-passage
    match, which outranks an unrelated document — and a long document
    matching on ONE passage still scores (what pooled single-vector
    cosine dilutes away)."""
    from data_integration_and_visualization_uc3m_spark.operators.similarity import maxsim_topk

    passage = " ".join(f"tok{i}" for i in range(32))
    other = " ".join(f"oth{i}" for i in range(32))
    noise = " ".join(f"nz{i}" for i in range(96))
    df = spark.createDataFrame(
        [
            (0, passage + " " + other),        # query: 2 chunks
            (1, passage + " " + other),        # exact copy
            (2, passage + " " + noise),        # one-passage match + noise
            (3, " ".join(f"x{i}" for i in range(64))),  # unrelated
        ],
        "doc_id long, text string",
    )
    rows = maxsim_topk(df, query_doc_id=0, k=3, chunk_words=32).collect()
    order = [r.doc_id for r in sorted(rows, key=lambda r: r.rank)]
    scores = {r.doc_id: r.score for r in rows}
    assert order[0] == 1 and order[1] == 2
    assert scores[1] > scores[2] > scores.get(3, 0)
    assert all(r.score >= 0 for r in rows)  # relu semantics


def test_wav_pcm_roundtrip_matches_python_reference(spark):
    """Byte-level ground truth: synthesize_wav_pcm's payload must be a
    valid mono 16-bit PCM WAV whose samples, decoded by PYTHON (struct
    over the raw bytes, no Spark), equal the sawtooth closed form —
    and wav_pcm_stats' decode must agree with that same reference."""
    import struct

    from data_integration_and_visualization_uc3m_spark.operators.multimodal import (
        synthesize_wav_pcm,
        wav_pcm_stats,
    )

    cases = [(7, 8000, 12, 500, 3, 5), (8, 44100, 9, 30000, 17, 100)]
    src = spark.createDataFrame(
        cases,
        "media_id long, sample_rate_hz long, n_samples long, "
        "amp long, step long, phase long",
    )
    media = synthesize_wav_pcm(src)
    payloads = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    stats = {r["media_id"]: r.asDict()
             for r in wav_pcm_stats(media).collect()}

    for mid, rate, ns, amp, step, phase in cases:
        raw = payloads[mid]
        assert raw[:4] == b"RIFF" and raw[8:16] == b"WAVEfmt "
        assert raw[36:40] == b"data"
        assert len(raw) == 44 + 2 * ns
        (data_size,) = struct.unpack("<I", raw[40:44])
        assert data_size == 2 * ns
        decoded = struct.unpack(f"<{ns}h", raw[44:])
        expect = tuple((i * step + phase) % (2 * amp) - amp
                       for i in range(ns))
        assert decoded == expect

        s = stats[mid]
        assert s["sample_rate_hz"] == rate and s["n_samples"] == ns
        assert s["peak_abs"] == max(abs(x) for x in expect)
        assert s["sum_sq"] == sum(x * x for x in expect)
        assert s["zero_crossings"] == sum(
            1 for a, b in zip(expect, expect[1:]) if a * b < 0
        )
        import math
        assert s["rms_milli"] == math.floor(
            math.sqrt(s["sum_sq"] / ns) * 1000
        )


def test_wav_pcm_empty_clip_is_header_only(spark):
    """n_samples=0 must yield exactly the 44-byte header with
    data_size=0 — Spark's sequence(0,-1) is a DESCENDING [0,-1] that
    used to emit 4 bogus sample bytes (ADVICE r9)."""
    import struct

    from data_integration_and_visualization_uc3m_spark.operators.multimodal import (
        synthesize_wav_pcm,
    )

    src = spark.createDataFrame(
        [(1, 8000, 0, 500, 3, 5)],
        "media_id long, sample_rate_hz long, n_samples long, "
        "amp long, step long, phase long",
    )
    raw = bytes(synthesize_wav_pcm(src).collect()[0]["payload"])
    assert len(raw) == 44
    (data_size,) = struct.unpack("<I", raw[40:44])
    assert data_size == 0
    (riff_size,) = struct.unpack("<I", raw[4:8])
    assert riff_size == 36


def test_jpeg_marker_walk_roundtrip_and_rejects(spark):
    """The marker walk must (a) locate SOF0 across variable-length
    segments — byte-level ground truth built in PYTHON, not by the
    Spark synthesizer — and (b) return null dims for a non-JPEG, a
    stream with no SOF0, and dims past the walk bound."""
    import struct

    from data_integration_and_visualization_uc3m_spark.operators.multimodal import (
        jpeg_sof_dims,
    )

    def seg(marker, data):
        return bytes([0xFF, marker]) + struct.pack(">H", len(data) + 2) + data

    app0 = seg(0xE0, b"JFIF\x00\x01\x01\x00\x00H\x00H\x00\x00")
    sof = seg(0xC0, b"\x08" + struct.pack(">HH", 480, 640)
              + b"\x03\x01\x11\x00\x02\x11\x01\x03\x11\x01")
    good = b"\xff\xd8" + app0 + seg(0xFE, b"x" * 9) + sof + b"\xff\xd9"
    no_sof = b"\xff\xd8" + app0 + b"\xff\xd9"  # EOI has no length; walk aborts
    not_jpeg = b"\x89PNG\r\n\x1a\n" + b"\x00" * 20
    too_deep = (b"\xff\xd8" + b"".join(seg(0xFE, b"y") for _ in range(9))
                + sof + b"\xff\xd9")

    media = spark.createDataFrame(
        [(1, good), (2, no_sof), (3, not_jpeg), (4, too_deep)],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r.asDict() for r in jpeg_sof_dims(media).collect()}

    g = rows[1]
    assert g["jpeg_sig_ok"] and g["height_px"] == 480 and g["width_px"] == 640
    # SOI(2) + APP0(18) + COM(2+2+9) => SOF marker at 1-based byte 34
    assert g["sof_pos"] == 2 + len(app0) + 13 + 1
    assert rows[2]["height_px"] is None and rows[2]["jpeg_sig_ok"]
    assert rows[3]["height_px"] is None and not rows[3]["jpeg_sig_ok"]
    assert rows[4]["height_px"] is None  # 9 segments > max_segments=8


def test_mp4_box_walk_roundtrip_and_rejects(spark):
    """Box walk ground truth from PYTHON-built ISO-BMFF payloads:
    locate moov across several variable-size boxes, reject a stream
    with no ftyp, abort on a degenerate (size<8) box, and null out a
    moov whose first child is not mvhd."""
    import struct

    from data_integration_and_visualization_uc3m_spark.operators.multimodal import (
        mp4_mvhd_meta,
    )

    def box(typ, data):
        return struct.pack(">I", len(data) + 8) + typ + data

    ftyp = box(b"ftyp", b"isom\x00\x00\x00\x00")
    mvhd = box(b"mvhd", b"\x00\x00\x00\x00" + b"\x00" * 8
               + struct.pack(">II", 1000, 7500))
    good = (ftyp + box(b"free", b"\x00" * 5) + box(b"skip", b"x" * 11)
            + box(b"moov", mvhd))
    no_ftyp = box(b"junk", b"a" * 4) + box(b"moov", mvhd)
    degenerate = ftyp + struct.pack(">I", 3) + b"free" + box(b"moov", mvhd)
    no_mvhd = ftyp + box(b"moov", box(b"trak", b"\x00" * 20))

    media = spark.createDataFrame(
        [(1, good), (2, no_ftyp), (3, degenerate), (4, no_mvhd)],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r.asDict() for r in mp4_mvhd_meta(media).collect()}

    g = rows[1]
    assert g["mp4_sig_ok"]
    assert g["moov_pos"] == len(ftyp) + 13 + 19 + 1  # walked both boxes
    assert g["timescale"] == 1000 and g["duration"] == 7500
    assert g["duration_ms"] == 7500  # 7500/1000 * 1000
    assert not rows[2]["mp4_sig_ok"] and rows[2]["timescale"] is None
    assert rows[3]["timescale"] is None  # size<8 aborts, no infinite skip
    assert rows[4]["moov_pos"] is None   # moov found but first child != mvhd


def test_gray_dhash_matches_python_reference(spark):
    """Byte-level ground truth: synthesize_gray8x9's payload must be
    the 72-byte row-major gradient, and gray_dhash's two halves must
    equal a pure-Python dHash over those same bytes — including a
    hand-mangled payload built in Python (not by the synthesizer), so
    the hash provably comes from the bytes, not the closed form."""
    from data_integration_and_visualization_uc3m_spark.operators.multimodal import (
        gray_dhash,
        synthesize_gray8x9,
    )

    def py_dhash(raw):
        lo = hi = 0
        for r in range(8):
            for c in range(8):
                k = (r % 4) * 8 + c
                if raw[r * 9 + c] < raw[r * 9 + c + 1]:
                    if r < 4:
                        lo += 1 << k
                    else:
                        hi += 1 << k
        return lo, hi

    src = spark.createDataFrame(
        [(1, 7), (2, 7), (3, 31)], "media_id long, img_seed long"
    )
    media = synthesize_gray8x9(src)
    payloads = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    for mid, seed in ((1, 7), (2, 7), (3, 31)):
        raw = payloads[mid]
        assert len(raw) == 72
        assert raw == bytes(
            (seed * 7 + r * 9 + c * 13) % 256
            for r in range(8) for c in range(9)
        )
    assert payloads[1] == payloads[2] != payloads[3]

    mangled = bytes((b + 17 * (i % 3)) % 256
                    for i, b in enumerate(payloads[3]))
    media2 = spark.createDataFrame(
        [(1, bytearray(payloads[1])), (4, bytearray(mangled))],
        "media_id long, payload binary",
    )
    got = {r["media_id"]: (r["dhash_lo"], r["dhash_hi"])
           for r in gray_dhash(media2).collect()}
    assert got[1] == py_dhash(payloads[1])
    assert got[4] == py_dhash(mangled)
    assert got[4] != got[1]


def test_bmp24_synth_matches_independent_python_encoder(spark):
    """Byte-level ground truth: synthesize_bmp24's payload must equal a
    BMP built by an INDEPENDENT pure-Python struct encoder (bottom-up
    rows, 4-byte padding, BGR order) — and decode_bmp24 must read the
    generator pixels back exactly, for every padding class w%4."""
    import struct

    from data_integration_and_visualization_uc3m_spark.operators.multimodal import (
        decode_bmp24,
        synthesize_bmp24,
    )

    cases = [(1, 8, 6, 5), (2, 9, 7, 12), (3, 10, 8, 96), (4, 11, 9, 0),
             (5, 12, 6, 41)]
    src = spark.createDataFrame(
        cases, "media_id long, width_px int, height_px int, img_seed long"
    )
    payloads = {r["media_id"]: bytes(r["payload"])
                for r in synthesize_bmp24(src).collect()}

    def px(seed, x, y):
        return ((seed * 7 + x * 13 + y * 31) % 256,
                (seed * 11 + x * 3 + y * 17) % 256,
                (seed * 5 + x * 19 + y * 23) % 256)

    for mid, w, h, seed in cases:
        stride = (w * 3 + 3) // 4 * 4
        ref = struct.pack("<2sIII", b"BM", 54 + stride * h, 0, 54)
        ref += struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                           stride * h, 2835, 2835, 0, 0)
        for y in range(h - 1, -1, -1):  # bottom-up
            row = b""
            for x in range(w):
                r, g, b = px(seed, x, y)
                row += bytes([b, g, r])
            ref += row + b"\x00" * (stride - 3 * w)
        assert payloads[mid] == ref, f"byte mismatch for case {mid}"

        dw, dh, pixels = decode_bmp24(ref)
        assert (dw, dh) == (w, h)
        assert pixels == [px(seed, x, y) for y in range(h)
                          for x in range(w)]


def test_bmp24_decoder_topdown_and_rejects():
    """decode_bmp24 must accept the negative-height TOP-DOWN variant
    (no flip) and reject non-BMP, truncation, and unsupported bpp."""
    import struct

    import pytest as _pytest

    from data_integration_and_visualization_uc3m_spark.operators.multimodal import (
        decode_bmp24,
    )

    w, h = 3, 2
    stride = (w * 3 + 3) // 4 * 4
    rows_topdown = [[(10 * (y * w + x), 1, 2) for x in range(w)]
                    for y in range(h)]

    def encode(height_field, rows):
        buf = struct.pack("<2sIII", b"BM", 54 + stride * h, 0, 54)
        buf += struct.pack("<IiiHHIIiiII", 40, w, height_field, 1, 24, 0,
                           stride * h, 0, 0, 0, 0)
        for row in rows:
            raw = b"".join(bytes([b, g, r]) for (r, g, b) in row)
            buf += raw + b"\x00" * (stride - 3 * w)
        return buf

    # top-down: file rows already in image order
    td = encode(-h, rows_topdown)
    assert decode_bmp24(td)[2] == [p for row in rows_topdown for p in row]
    # bottom-up: same bytes must come back flipped
    bu = encode(h, rows_topdown)
    assert decode_bmp24(bu)[2] == [
        p for row in reversed(rows_topdown) for p in row
    ]

    with _pytest.raises(ValueError, match="not a BMP"):
        decode_bmp24(b"PNG" + td[3:])
    with _pytest.raises(ValueError, match="truncated"):
        decode_bmp24(td[:-4])
    bad_bpp = td[:28] + struct.pack("<H", 8) + td[30:]
    with _pytest.raises(ValueError, match="24-bit"):
        decode_bmp24(bad_bpp)


def test_extract_features_real_path_decodes_and_gates(spark):
    """extract_features(fake=False) must compute features from DECODED
    pixels (agreeing with the pure-Python reference) and raise
    DecoderUnavailable for non-BMP payloads — the gate is now reserved
    for genuinely externalized codecs."""
    import pytest as _pytest

    from data_integration_and_visualization_uc3m_spark.operators.multimodal import (
        bmp_pixel_features,
        decode_bmp24,
        documents_as_media,
        extract_features,
        synthesize_bmp24,
    )

    src = spark.createDataFrame(
        [(7, 10, 6, 33), (8, 12, 9, 90)],
        "media_id long, width_px int, height_px int, img_seed long",
    )
    media = synthesize_bmp24(src)
    got = {r["media_id"]: r.asDict()
           for r in extract_features(media, fake=False).collect()}
    for r in media.collect():
        w, h, px = decode_bmp24(bytes(r["payload"]))
        f0, f1, f2 = bmp_pixel_features(px, w, h)
        row = got[r["media_id"]]
        assert (row["feature_0"], row["feature_1"], row["feature_2"]) \
            == (float(f0), float(f1), float(f2))
        assert row["n_bytes"] == len(bytes(r["payload"]))

    docs = spark.createDataFrame([(1, "plain text", "en", "webz")],
                                 "doc_id long, text string, lang string, "
                                 "source string")
    with _pytest.raises(Exception, match="DecoderUnavailable|codec"):
        extract_features(documents_as_media(docs), fake=False).collect()


def test_ivf_sweep_topk_rel_matches_per_arm_ivf_topk_rel(spark):
    """The single-pass sweep (one centroid agg + one candidate scan,
    round-10 perf fix) must be row-identical per arm to running
    ivf_topk_rel independently at each nprobe."""
    from data_integration_and_visualization_uc3m_spark.operators.similarity import (
        ivf_sweep_topk_rel,
        ivf_topk_rel,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") == 0)
    sweep = ivf_sweep_topk_rel(e, q, k=15, max_nprobe=4).collect()
    by_arm = {}
    for r in sweep:
        by_arm.setdefault(r["nprobe"], []).append(
            (r["vec_id"], round(r["cosine"], 12))
        )
    for n in (1, 2, 3, 4):
        solo = [
            (r["vec_id"], round(r["cosine"], 12))
            for r in ivf_topk_rel(e, q, k=15, nprobe=n).collect()
        ]
        assert sorted(by_arm[n]) == sorted(solo), f"arm nprobe={n}"
        # monotone candidate sets: arm n's ids ⊆ pool reachable at n+1
        assert len(by_arm[n]) <= 15


def test_gray_resize_area_exact_box_filter(spark):
    """resize_images(fake=False) must equal the floor-mapped integer
    box filter computed by hand, and reject non-BMP payloads."""
    import pytest as _pytest

    from data_integration_and_visualization_uc3m_spark.operators.multimodal import (
        decode_bmp24,
        documents_as_media,
        gray_resize_area,
        resize_images,
        synthesize_bmp24,
    )

    src = spark.createDataFrame(
        [(1, 12, 9, 5), (2, 18, 13, 17)],
        "media_id long, width_px int, height_px int, img_seed long",
    )
    media = synthesize_bmp24(src)
    got = {r["media_id"]: bytes(r["payload"])
           for r in resize_images(media, 9, 8, fake=False).collect()}
    for r in media.collect():
        w, h, px = decode_bmp24(bytes(r["payload"]))
        ref = gray_resize_area(px, w, h, 9, 8)
        assert got[r["media_id"]] == ref
        assert len(ref) == 72
        # hand-check one cell: output (0,0) = truncating mean of luma
        # over {x: x*9//w == 0} x {y: y*8//h == 0}
        xs = [x for x in range(w) if x * 9 // w == 0]
        ys = [y for y in range(h) if y * 8 // h == 0]
        cell = [
            (299 * px[y * w + x][0] + 587 * px[y * w + x][1]
             + 114 * px[y * w + x][2]) // 1000
            for y in ys for x in xs
        ]
        assert ref[0] == sum(cell) // len(cell)

    docs = spark.createDataFrame([(1, "nope", "en", "s")],
                                 "doc_id long, text string, lang string, "
                                 "source string")
    with _pytest.raises(Exception, match="DecoderUnavailable|codec"):
        resize_images(documents_as_media(docs), 9, 8, fake=False).collect()

    with _pytest.raises(ValueError, match="only shrinks"):
        gray_resize_area([(0, 0, 0)], 1, 1, 2, 2)


def test_mmr_diverse_topk_rel_greedy_properties(spark):
    """MMR picks must be distinct, start with the max-relevance
    candidate, and diversify: with lam=0 (pure anti-similarity) the
    second pick must differ from pick 1's nearest clone."""
    from data_integration_and_visualization_uc3m_spark.operators.similarity import (
        mmr_diverse_topk_rel,
    )

    rows = [
        (0, [1.0, 0.0, 0.0]),   # query
        (1, [0.99, 0.01, 0.0]),  # most relevant
        (2, [0.98, 0.02, 0.0]),  # clone of 1
        (3, [0.6, 0.8, 0.0]),    # less relevant, diverse
        (4, [0.6, 0.0, 0.8]),    # less relevant, diverse other way
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = e.filter(F.col("vec_id") == 0)
    corpus = e.filter(F.col("vec_id") != 0)

    picks = (
        mmr_diverse_topk_rel(corpus, q, k=3, pool=4, lam_milli=700)
        .orderBy("pick_order")
        .collect()
    )
    ids = [r["vec_id"] for r in picks]
    assert len(ids) == len(set(ids)) == 3
    assert ids[0] == 1  # max relevance first

    # pure diversity: after picking 1, the clone (2) must NOT be next
    div = (
        mmr_diverse_topk_rel(corpus, q, k=2, pool=4, lam_milli=0)
        .orderBy("pick_order")
        .collect()
    )
    assert div[0]["vec_id"] == 1
    assert div[1]["vec_id"] in (3, 4)


def test_synthesize_tar_is_valid_ustar_and_walker_agrees(spark):
    """The synthesized shard must be a SPEC-VALID archive: stdlib
    tarfile (which verifies the header checksum) reads the same names,
    sizes and 'd'-filled contents; the JVM walker's offsets must
    range-read the exact member bytes, and a truncated/garbage payload
    must index zero members."""
    import io
    import tarfile as _tarfile

    from data_integration_and_visualization_uc3m_spark.operators.multimodal import (
        synthesize_tar,
        tar_member_index,
    )

    df = spark.createDataFrame(
        [
            (1, [("a1.txt", 10), ("a1.cls", 3), ("b1.txt", 600)]),
            (2, [("a2.txt", 512)]),   # exact block boundary, no pad
        ],
        "media_id long, members array<struct<name:string,size:long>>",
    )
    shards = synthesize_tar(df)
    raws = {r["media_id"]: bytes(r["payload"]) for r in shards.collect()}
    idx = {}
    for r in tar_member_index(shards).collect():
        idx.setdefault(r["media_id"], []).append(r)

    for mid, raw in raws.items():
        tf = _tarfile.open(fileobj=io.BytesIO(raw))  # checksum-verified
        std = [(m.name, m.size) for m in tf.getmembers()]
        walked = [(r["member_name"], r["data_size"])
                  for r in sorted(idx[mid], key=lambda r: r["member_idx"])]
        assert std == walked
        for r in idx[mid]:
            seg = raw[r["data_offset"]: r["data_offset"] + r["data_size"]]
            assert seg == b"d" * r["data_size"]
        for m in tf.getmembers():
            assert tf.extractfile(m).read() == b"d" * m.size

    junk = spark.createDataFrame(
        [(9, bytearray(100))], "media_id long, payload binary"
    )
    assert tar_member_index(junk).count() == 0


def test_tar_member_index_rejects_corrupt_checksum(spark):
    """A flipped byte inside a header (mtime field — name/size intact,
    so the old walker would have trusted it) must STOP the walk at
    that member: the recomputed ustar checksum no longer matches the
    stored value, so the corrupted member and everything after it is
    withheld while members before it stay indexed (ADVICE r10)."""
    from data_integration_and_visualization_uc3m_spark.operators.multimodal import (
        synthesize_tar,
        tar_member_index,
    )

    df = spark.createDataFrame(
        [(1, [("a.txt", 10), ("b.txt", 20), ("c.txt", 30)])],
        "media_id long, members array<struct<name:string,size:long>>",
    )
    raw = bytearray(bytes(synthesize_tar(df).collect()[0]["payload"]))
    # member layout: hdr0@0, data0@512 (1 block), hdr1@1024 — corrupt
    # hdr1's mtime field (offset 136 within the header): parsing of
    # name/size still succeeds, only the checksum catches it
    raw[1024 + 136] = ord("7") if raw[1024 + 136] != ord("7") else ord("5")
    corrupt = spark.createDataFrame(
        [(1, bytes(raw))], "media_id long, payload binary"
    )
    got = [
        (r["member_name"], r["data_size"])
        for r in tar_member_index(corrupt)
        .orderBy("member_idx")
        .collect()
    ]
    assert got == [("a.txt", 10)]  # stops BEFORE the corrupted header


def test_mmr_diverse_topk_rel_pool_smaller_than_k(spark):
    """When the candidate pool holds fewer than k vectors, MMR returns
    min(k, |pool|) rows and the greedy loop stops at the first empty
    pick instead of running the remaining rounds (ADVICE r10). Zero
    vectors are excluded by the norm>0 filter and don't count."""
    from data_integration_and_visualization_uc3m_spark.operators.similarity import (
        mmr_diverse_topk_rel,
    )

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame([([1.0, 1.0],)], "embedding array<double>")
    out = mmr_diverse_topk_rel(corpus, q, k=5, pool=10).collect()
    assert sorted(r["pick_order"] for r in out) == [1, 2]
    assert sorted(r["vec_id"] for r in out) == [1, 2]


def test_wav_pcm_vad_segments_cuts_at_silence(spark):
    """VAD over REAL bytes: a burst-gated PCM WAV (32 on / 32 off)
    decodes into frame energies whose active runs segment exactly at
    the gate boundaries, with exact integer energies; an ungated clip
    yields one full-length segment; an all-silent clip yields none."""
    from data_integration_and_visualization_uc3m_spark.operators.multimodal import (
        synthesize_wav_pcm,
        wav_pcm_vad_segments,
    )
    from pyspark.sql import functions as F

    src = spark.createDataFrame(
        [
            # 128 samples, gate 32 → frames(16): on,on,off,off ×2
            (1, 8000, 128, 1000, 7, 3, 32),
            # ungated (burst larger than clip → always on)
            (2, 8000, 64, 1000, 7, 3, 1 << 20),
            # silent: amp pattern all-off via burst smaller than frame
            # is still partially on — instead make an empty clip
            (3, 8000, 0, 1000, 7, 3, 32),
        ],
        "media_id long, sample_rate_hz long, n_samples long, amp long,"
        " step long, phase long, burst long",
    )
    media = synthesize_wav_pcm(src, burst_col="burst")
    segs = {}
    for r in wav_pcm_vad_segments(media, frame=16, min_energy=0).collect():
        segs.setdefault(r["media_id"], []).append(
            (r["seg_idx"], r["start_frame"], r["n_frames"])
        )
    # clip 1: active frame pairs at 0-1 and 4-5 (frames 2-3, 6-7 gated
    # off: samples 32..63 and 96..127 silent)
    assert segs[1] == [(1, 0, 2), (2, 4, 2)]
    # clip 2: one segment covering all 4 full frames
    assert segs[2] == [(1, 0, 4)]
    # clip 3: empty clip — no segments
    assert 3 not in segs

    # energies are the exact sum of squared sawtooth samples
    expect = sum(
        ((i * 7 + 3) % 2000 - 1000) ** 2 for i in range(0, 32)
    )
    got = {
        r["start_frame"]: r["energy_sum"]
        for r in wav_pcm_vad_segments(media, frame=16, min_energy=0)
        .filter(F.col("media_id") == 1).collect()
    }
    assert got[0] == expect


# --- G.711 mu-law companding ------------------------------------------


def test_mulaw_sql_matches_audioop_exhaustively(spark):
    """The arithmetic-only mu-law SQL must be byte-equal to CPython
    audioop (Sun's g711.c) for ALL 65536 PCM16 inputs, and the decode
    must invert to audioop's exact reconstruction."""
    import struct
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        import audioop

    from data_integration_and_visualization_uc3m_spark.operators.multimodal import (
        mulaw_decode_expr,
        mulaw_encode_expr,
    )

    enc = mulaw_encode_expr("s", "spark")
    dec = mulaw_decode_expr("code", "spark")
    rows = (
        spark.range(65536)
        .select((F.col("id") - 32768).alias("s"))
        .select("s", F.expr(enc).alias("code"))
        .select("s", "code", F.expr(dec).alias("back"))
        .collect()
    )
    assert len(rows) == 65536
    for r in rows:
        b = struct.pack("<h", r["s"])
        ref = audioop.lin2ulaw(b, 2)[0]
        assert r["code"] == ref, (r["s"], r["code"], ref)
        refback = struct.unpack(
            "<h", audioop.ulaw2lin(bytes([ref]), 2)
        )[0]
        assert r["back"] == refback, (r["s"], r["back"], refback)


def test_mulaw_staged_roundtrip_matches_generator_exhaustively(spark):
    """The staged-projection round-trip (mulaw_roundtrip_staged — the
    r14 codegen optimization behind mulaw_codec_report) must produce
    byte-identical (code, back, seg) to the generator expressions over
    ALL 65536 PCM inputs — the staging is a pure expression-tree
    restructure, never an algebra change."""
    from data_integration_and_visualization_uc3m_spark.operators.multimodal import (
        mulaw_decode_expr,
        mulaw_encode_expr,
        mulaw_roundtrip_staged,
    )

    src = spark.range(65536).select((F.col("id") - 32768).alias("s"))
    staged = mulaw_roundtrip_staged(src, "s")
    ref = (
        src.select("s", F.expr(mulaw_encode_expr("s", "spark")).alias("code"))
        .select(
            "s", "code",
            F.expr(mulaw_decode_expr("code", "spark")).alias("back"),
            F.expr(
                "(((255 - code) - ((255 - code) % 16)) div 16) % 8"
            ).alias("seg"),
        )
    )
    a = {r["s"]: (r["code"], r["back"], r["seg"]) for r in staged.collect()}
    b = {r["s"]: (r["code"], r["back"], r["seg"]) for r in ref.collect()}
    assert a == b


def test_mulaw_segment_error_doubles(spark):
    """Per-segment max quantization error must grow with the segment
    (companding contract) and stay within the closed bound
    4·2^seg + 3 (half step in 16-bit terms + the 16→14-bit floor)."""
    from data_integration_and_visualization_uc3m_spark import queries as Q

    out = sorted(
        Q.REGISTRY["mulaw_codec_report"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect(),
        key=lambda r: r["seg"],
    )
    assert [r["seg"] for r in out] == list(range(8))
    errs = [r["max_abs_err"] for r in out]
    assert errs == sorted(errs)
    for r in out:
        if r["seg"] < 7:
            assert r["max_abs_err"] <= 4 * (2 ** r["seg"]) + 3
        else:
            # segment 7 also absorbs the CLIP region: inputs beyond
            # ±32635 reconstruct to ±32124, so |err| ≤ 32768 − 32124
            assert r["max_abs_err"] <= 644
        assert r["n_codes"] <= 32


# --- PPM (netpbm P6) codec ---------------------------------------------


def test_ppm_roundtrip_byte_level(spark):
    """decode_ppm6 must invert synthesize_ppm6 exactly — dims, comment
    skipping, RGB order, top-down rows — verified against the closed
    pixel form in Python."""
    from data_integration_and_visualization_uc3m_spark.operators.multimodal import (
        decode_ppm6,
        synthesize_ppm6,
    )

    cases = [(1, 9, 5, 0), (2, 12, 7, 7), (3, 15, 10, 33), (4, 10, 6, 88)]
    src = spark.createDataFrame(
        cases, "media_id long, width_px int, height_px int, img_seed int"
    )
    out = {r["media_id"]: bytes(r["payload"])
           for r in synthesize_ppm6(src).collect()}
    for mid, w, h, seed in cases:
        buf = out[mid]
        assert buf.startswith(b"P6")
        if seed % 3 == 0:
            assert f"# s{seed}".encode() in buf.split(b"255\n")[0]
        dw, dh, px = decode_ppm6(buf)
        assert (dw, dh) == (w, h)
        assert len(px) == w * h
        for y in range(h):
            for x in range(w):
                r, g, b = px[y * w + x]
                assert r == (seed * 7 + x * 13 + y * 31) % 256
                assert g == (seed * 11 + x * 3 + y * 17) % 256
                assert b == (seed * 5 + x * 19 + y * 23) % 256


def test_ppm_decoder_rejects_malformed():
    from data_integration_and_visualization_uc3m_spark.operators.multimodal import (
        decode_ppm6,
    )
    import pytest as _pytest

    for bad in [
        b"P5\n2 2\n255\n" + b"\x00" * 12,       # wrong magic
        b"P6\n2 2\n65535\n" + b"\x00" * 12,     # unsupported maxval
        b"P6\n2 2\n255\n" + b"\x00" * 5,        # truncated pixels
        b"P6\n# only a comment",                # truncated header
    ]:
        with _pytest.raises(ValueError):
            decode_ppm6(bad)


def test_extract_features_dispatches_bmp_and_ppm(spark):
    """One relation mixing BMP and PPM payloads must decode both via
    the magic dispatch and produce identical features for identical
    (w, h, seed) because the pixel gradients match."""
    from data_integration_and_visualization_uc3m_spark.operators.multimodal import (
        extract_features,
        synthesize_bmp24,
        synthesize_ppm6,
    )

    src = spark.createDataFrame(
        [(1, 9, 6, 13)],
        "media_id long, width_px int, height_px int, img_seed int",
    )
    bmp = synthesize_bmp24(src)
    ppm = synthesize_ppm6(
        src.select((F.col("media_id") + 100).alias("media_id"),
                   "width_px", "height_px", "img_seed")
    )
    feats = {
        r["media_id"]: (r["feature_0"], r["feature_1"], r["feature_2"])
        for r in extract_features(bmp.unionByName(ppm), fake=False).collect()
    }
    assert feats[1] == feats[101]
