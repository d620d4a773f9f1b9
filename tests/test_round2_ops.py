"""Unit tests for round-2 operators: blocked embedding-pair generation,
deterministic IVF ANN, BPE pre-tokenization, frame-sample expansion."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_integration_and_visualization_uc3m_spark.operators import multimodal, similarity, text


def _vecs(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def _query(spark, vec):
    return spark.createDataFrame([(vec,)], "embedding array<float>")


class TestCosinePairsBlocked:
    def test_identical_vectors_same_block(self, spark):
        df = _vecs(
            spark,
            [
                (1, [1.0, 0.0], 0),
                (2, [2.0, 0.0], 0),  # same direction as 1 → cosine 1
                (3, [0.0, 1.0], 0),  # orthogonal → cosine 0
            ],
        )
        got = {
            (r.vec_a, r.vec_b): r.cosine
            for r in similarity.cosine_pairs_blocked(df, threshold=0.5).collect()
        }
        assert set(got) == {(1, 2)}
        assert got[(1, 2)] == pytest.approx(1.0)

    def test_cross_block_pairs_never_form(self, spark):
        df = _vecs(spark, [(1, [1.0, 0.0], 0), (2, [1.0, 0.0], 1)])
        assert similarity.cosine_pairs_blocked(df, threshold=0.0).count() == 0

    def test_pairs_are_upper_triangle(self, spark):
        df = _vecs(
            spark, [(5, [1.0, 1.0], 0), (2, [1.0, 1.0], 0), (9, [1.0, 1.0], 0)]
        )
        pairs = {
            (r.vec_a, r.vec_b)
            for r in similarity.cosine_pairs_blocked(df, threshold=0.9).collect()
        }
        assert pairs == {(2, 5), (2, 9), (5, 9)}


class TestIvfTopk:
    def test_probes_only_nearest_cells(self, spark):
        # three well-separated cells; query sits on cell 0's centroid
        df = _vecs(
            spark,
            [
                (1, [1.0, 0.0], 0),
                (2, [0.9, 0.1], 0),
                (3, [0.0, 1.0], 1),
                (4, [0.1, 0.9], 1),
                (5, [-1.0, 0.0], 2),
                (6, [-0.9, -0.1], 2),
            ],
        )
        q = _query(spark, [1.0, 0.0])
        out = similarity.ivf_topk_rel(df, q, k=10, nprobe=2).collect()
        # cell 2 (opposite direction) must not be probed
        assert {r.label for r in out} == {0, 1}
        # exact cosine ordering inside the probed cells, id tiebreak
        assert [r.vec_id for r in out][:2] == [1, 2]

    def test_k_limits_output(self, spark):
        df = _vecs(spark, [(i, [1.0, float(i) / 100], 0) for i in range(10)])
        q = _query(spark, [1.0, 0.0])
        assert similarity.ivf_topk_rel(df, q, k=4, nprobe=1).count() == 4

    def test_centroids_fixed_point_exact(self, spark):
        df = _vecs(spark, [(1, [0.5, 0.25], 0), (2, [0.5, 0.75], 0)])
        cents = {
            (r.block, r.dim): (r.sum_nano, r.cnt)
            for r in similarity.label_centroids_nano(df).collect()
        }
        assert cents[(0, 0)] == (1_000_000_000, 2)
        assert cents[(0, 1)] == (1_000_000_000, 2)


class TestBpeTokenize:
    def test_contractions_letters_digits_punct(self, spark):
        df = spark.createDataFrame(
            [(1, "Don't stop 123!!")], "doc_id long, text string"
        )
        row = text.bpe_tokenize(df).collect()[0]
        # lower → don | 't | stop | 1 | 2 | 3 | ! | !
        assert row.n_bpe_tokens == 8
        assert row.n_unique_bpe_tokens == 7  # "!" repeats
        assert row.sum_token_chars == 3 + 2 + 4 + 1 + 1 + 1 + 1 + 1
        assert row.mean_token_len == pytest.approx(14 / 8)

    def test_whitespace_only_text_has_zero_tokens(self, spark):
        df = spark.createDataFrame([(1, "   \n\t ")], "doc_id long, text string")
        row = text.bpe_tokenize(df).collect()[0]
        assert row.n_bpe_tokens == 0
        assert row.sum_token_chars == 0


class TestFrameSamplePlan:
    def _media(self, spark, payload: str):
        docs = spark.createDataFrame(
            [(1, payload, "en", "web", len(payload))],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        return multimodal.documents_as_media(docs)

    def test_long_payload_samples_every_nth(self, spark):
        media = self._media(spark, "x" * 2500)  # 25 frames → 0,10,20
        idx = [r.frame_index for r in multimodal.frame_sample_plan(media, 10).collect()]
        assert sorted(idx) == [0, 10, 20]

    def test_short_payload_still_emits_frame_zero(self, spark):
        media = self._media(spark, "tiny")
        idx = [r.frame_index for r in multimodal.frame_sample_plan(media, 10).collect()]
        assert idx == [0]
