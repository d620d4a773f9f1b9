"""Unit tests for deterministic sampling, CDC snapshot-diff,
repetition stats, and SimHash Hamming-pair blocking."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_integration_and_visualization_uc3m_spark.operators import cdc, dedup, sampling, text


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


class TestHashSample:
    def test_deterministic_and_subset_monotone(self, spark):
        df = spark.range(1000).withColumnRenamed("id", "k")
        a = {r.k for r in sampling.hash_sample(df, "k", 0.3).collect()}
        b = {r.k for r in sampling.hash_sample(df, "k", 0.3).collect()}
        assert a == b  # seed-stable re-run
        wider = {r.k for r in sampling.hash_sample(df, "k", 0.6).collect()}
        assert a <= wider  # raising the rate only ADDS keys
        # rate is approximately honored on a uniform key space
        assert 0.2 < len(a) / 1000 < 0.4

    def test_rate_zero_and_one(self, spark):
        df = spark.range(100).withColumnRenamed("id", "k")
        assert sampling.hash_sample(df, "k", 0.0).count() == 0
        assert sampling.hash_sample(df, "k", 1.0).count() == 100

    def test_seed_changes_selection(self, spark):
        df = spark.range(1000).withColumnRenamed("id", "k")
        a = {r.k for r in sampling.hash_sample(df, "k", 0.3, seed="s0").collect()}
        b = {r.k for r in sampling.hash_sample(df, "k", 0.3, seed="s1").collect()}
        assert a != b

    def test_join_closed_across_tables(self, spark):
        """Sampling two tables by the SAME key keeps matching rows."""
        users = spark.range(200).withColumnRenamed("id", "uid")
        events = users.select("uid", F.lit("e").alias("ev"))
        ku = {r.uid for r in sampling.hash_sample(users, "uid", 0.5).collect()}
        ke = {r.uid for r in sampling.hash_sample(events, "uid", 0.5).collect()}
        assert ku == ke


class TestStratifiedAndQuota:
    def test_stratified_rates_per_group(self, spark):
        df = spark.createDataFrame(
            [(i, "a" if i % 2 == 0 else "b") for i in range(400)],
            "k long, g string",
        )
        kept = sampling.stratified_hash_sample(
            df, "k", "g", rates={"a": 1.0, "b": 0.0}
        )
        got = kept.groupBy("g").count().collect()
        assert {r.g: r["count"] for r in got} == {"a": 200}

    def test_default_rate_for_unlisted_stratum(self, spark):
        df = spark.createDataFrame([(1, "x"), (2, "y")], "k long, g string")
        kept = sampling.stratified_hash_sample(
            df, "k", "g", rates={"x": 1.0}, default_rate=1.0
        )
        assert kept.count() == 2

    def test_quota_exact_n_per_group(self, spark):
        df = spark.createDataFrame(
            [(i, f"g{i % 3}") for i in range(90)], "k long, g string"
        )
        got = sampling.quota_per_group(df, "g", 5, "k")
        counts = {r.g: r["count"] for r in got.groupBy("g").count().collect()}
        assert counts == {"g0": 5, "g1": 5, "g2": 5}
        again = sampling.quota_per_group(df, "g", 5, "k")
        assert {tuple(r) for r in got.collect()} == {tuple(r) for r in again.collect()}

    def test_quota_smaller_group_kept_whole(self, spark):
        df = spark.createDataFrame([(1, "g"), (2, "g")], "k long, g string")
        assert sampling.quota_per_group(df, "g", 10, "k").count() == 2

    def test_split_partitions_every_row(self, spark):
        df = spark.range(500).withColumnRenamed("id", "k")
        tagged = sampling.split_train_holdout(df, "k", holdout_rate=0.2)
        sides = {r.split: r["count"] for r in tagged.groupBy("split").count().collect()}
        assert sum(sides.values()) == 500
        assert 0.1 < sides.get("holdout", 0) / 500 < 0.3


class TestSnapshotDiff:
    def _snap(self, spark, rows):
        return spark.createDataFrame(rows, "k long, v string, x double")

    def test_all_four_change_types(self, spark):
        old = self._snap(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)])
        new = self._snap(spark, [(2, "b", 2.0), (3, "CHANGED", 3.0), (4, "d", 4.0)])
        diff = cdc.snapshot_diff(old, new, keys=["k"], compare_cols=["v", "x"])
        got = {r.k: r.change_type for r in diff.collect()}
        assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}

    def test_null_vs_empty_not_conflated(self, spark):
        """(None,) and ('',) must differ, and (a,None) vs (a,'') too —
        the digest's null sentinel is doing real work here."""
        old = self._snap(spark, [(1, None, 1.0)])
        new = self._snap(spark, [(1, "", 1.0)])
        diff = cdc.snapshot_diff(old, new, keys=["k"], compare_cols=["v", "x"])
        assert diff.collect()[0].change_type == "changed"

    def test_null_equals_null(self, spark):
        old = self._snap(spark, [(1, None, 1.0)])
        new = self._snap(spark, [(1, None, 1.0)])
        diff = cdc.snapshot_diff(old, new, keys=["k"], compare_cols=["v", "x"])
        assert diff.collect()[0].change_type == "unchanged"

    def test_old_new_values_exposed(self, spark):
        old = self._snap(spark, [(1, "a", 1.0)])
        new = self._snap(spark, [(1, "z", 9.0)])
        row = (
            cdc.snapshot_diff(old, new, keys=["k"], compare_cols=["v", "x"])
            .collect()[0]
        )
        assert (row.old_v, row.new_v, row.old_x, row.new_x) == ("a", "z", 1.0, 9.0)


class TestRepetitionStats:
    def test_fully_repeated_doc(self, spark):
        df = _docs(spark, [(1, "en", "ab ab ab ab")])
        row = text.repetition_stats(df).collect()[0]
        # bigrams: "ab ab" ×3 → top share 1.0; trigrams "ab ab ab" ×2,
        # 1 unique → dup frac (2-1)/2 = 0.5
        assert row.n_bigrams == 3
        assert row.top_bigram_share == pytest.approx(1.0)
        assert row.dup_trigram_frac == pytest.approx(0.5)

    def test_all_distinct_ngrams(self, spark):
        df = _docs(spark, [(1, "en", "a b c d")])
        row = text.repetition_stats(df).collect()[0]
        assert row.top_bigram_share == pytest.approx(1.0 / 3.0)
        assert row.dup_trigram_frac == pytest.approx(0.0)

    def test_short_docs_dropped(self, spark):
        # <3 tokens → no trigram row → inner join drops the doc
        df = _docs(spark, [(1, "en", "one two"), (2, "en", "a b c")])
        ids = {r.doc_id for r in text.repetition_stats(df).collect()}
        assert ids == {2}


class TestSimhashHammingPairs:
    def _sig(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, simhash long")

    def test_identical_signatures_pair_at_zero(self, spark):
        sig = self._sig(spark, [(1, 0xABCD1234), (2, 0xABCD1234)])
        got = dedup.simhash_hamming_pairs(sig, max_hamming=3).collect()
        assert [(r.id_a, r.id_b, r.hamming) for r in got] == [(1, 2, 0)]

    def test_within_radius_found_regardless_of_band(self, spark):
        """Pigeonhole: ≤3 differing bits with 4 bands ⇒ always found,
        even when the flipped bits straddle bands."""
        base = 0x0F0F0F0F
        # flip one bit in each of 3 DIFFERENT bands — still one clean band
        other = base ^ (1 << 0) ^ (1 << 9) ^ (1 << 18)
        sig = self._sig(spark, [(1, base), (2, other)])
        got = dedup.simhash_hamming_pairs(sig, max_hamming=3).collect()
        assert [(r.id_a, r.id_b, r.hamming) for r in got] == [(1, 2, 3)]

    def test_beyond_radius_excluded(self, spark):
        base = 0x0F0F0F0F
        far = base ^ 0xF0  # 4 bits differ > max_hamming=3
        sig = self._sig(spark, [(1, base), (2, far)])
        assert dedup.simhash_hamming_pairs(sig, max_hamming=3).count() == 0

    def test_pair_emitted_once_despite_multiple_shared_bands(self, spark):
        # identical sigs share ALL 4 bands — distinct must collapse to 1 row
        sig = self._sig(spark, [(1, 7), (2, 7), (3, 7)])
        got = dedup.simhash_hamming_pairs(sig, max_hamming=3).collect()
        assert sorted((r.id_a, r.id_b) for r in got) == [(1, 2), (1, 3), (2, 3)]

    def test_guard_rejects_bad_band_config(self, spark):
        sig = self._sig(spark, [(1, 0)])
        with pytest.raises(AssertionError):
            dedup.simhash_hamming_pairs(sig, max_hamming=4, n_bands=4)


def test_training_shuffle_is_seed_stable_permutation(spark):
    from data_integration_and_visualization_uc3m_spark.operators import sampling

    df = spark.createDataFrame([(i, "x") for i in range(100)], "doc_id long, lang string")
    a = sampling.training_shuffle(df, shards=8, seed="s0")
    b = sampling.training_shuffle(df, shards=8, seed="s0")
    rows_a = {(r.doc_id, r.shard, r.shuffle_rank) for r in a.collect()}
    rows_b = {(r.doc_id, r.shard, r.shuffle_rank) for r in b.collect()}
    assert rows_a == rows_b  # seed-stable
    # permutation: every doc exactly once, ranks contiguous per shard
    assert len(rows_a) == 100
    per_shard = {}
    for _, sh, rk in rows_a:
        per_shard.setdefault(sh, []).append(rk)
    for sh, rks in per_shard.items():
        assert sorted(rks) == list(range(1, len(rks) + 1))
    # a different seed gives a different order
    c = {(r.doc_id, r.shard, r.shuffle_rank) for r in
         sampling.training_shuffle(df, shards=8, seed="s1").collect()}
    assert c != rows_a


def test_incremental_agg_update_handles_group_moves(spark):
    from decimal import Decimal
    from data_integration_and_visualization_uc3m_spark.operators import cdc
    import pyspark.sql.functions as F

    schema = "k long, g string, v decimal(18,2)"
    v1 = spark.createDataFrame(
        [(1, "a", Decimal("10.00")), (2, "a", Decimal("5.00")), (3, "b", Decimal("7.00"))],
        schema,
    )
    v2 = spark.createDataFrame(
        [
            (2, "b", Decimal("5.00")),   # moved group a→b
            (3, "b", Decimal("9.00")),   # value changed
            (4, "c", Decimal("1.00")),   # added
        ],  # key 1 removed
        schema,
    )
    prior = v1.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("v").cast("decimal(18,2)").alias("total"),
    )
    diff = cdc.snapshot_diff(v1, v2, keys=["k"], compare_cols=["g", "v"])
    got = {
        r.g: (r.n_rows, float(r.total))
        for r in cdc.incremental_agg_update(prior, diff, group_col="g", val_col="v").collect()
    }
    # direct recompute of v2: b -> 2 rows 14.00, c -> 1 row 1.00; a empty (dropped)
    assert got == {"b": (2, 14.0), "c": (1, 1.0)}


def test_weighted_hash_sample_scales_with_weight(spark):
    from data_integration_and_visualization_uc3m_spark.operators import sampling

    rows = [(i, 1.0) for i in range(500)] + [(i, 0.0) for i in range(500, 1000)]
    df = spark.createDataFrame(rows, "k long, w double")
    kept = sampling.weighted_hash_sample(df, "k", "w", base_rate=0.5).collect()
    # zero-weight rows can never be kept; full-weight rows keep ~50%
    assert all(r.w == 1.0 for r in kept)
    assert 150 <= len(kept) <= 350
    # deterministic: identical re-run selects identical rows
    again = sampling.weighted_hash_sample(df, "k", "w", base_rate=0.5).collect()
    assert sorted(r.k for r in kept) == sorted(r.k for r in again)


def test_weighted_hash_sample_clamps_and_drops_null(spark):
    from data_integration_and_visualization_uc3m_spark.operators import sampling

    rows = (
        [(i, 1.0) for i in range(500)]          # in-domain reference
        + [(i, 5.0) for i in range(500, 1000)]  # over-weight: clamp to 1
        + [(i, -2.0) for i in range(1000, 1100)]  # negative: clamp to 0
        + [(i, None) for i in range(1100, 1200)]  # NULL: explicit drop
    )
    df = spark.createDataFrame(rows, "k long, w double")
    kept = sampling.weighted_hash_sample(df, "k", "w", base_rate=0.5).collect()
    # negative- and NULL-weight rows are never kept
    assert all(r.k < 1000 for r in kept)
    # weight>1 clamps to exactly 1.0 ⇒ same threshold as w=1.0, so the
    # two blocks accept at the same rate (same hash on distinct keys)
    n_ref = sum(1 for r in kept if r.k < 500)
    n_over = sum(1 for r in kept if 500 <= r.k < 1000)
    assert 150 <= n_ref <= 350 and 150 <= n_over <= 350


def test_incremental_join_insert_only_algebra(spark):
    from data_integration_and_visualization_uc3m_spark.operators import cdc

    a = spark.createDataFrame([(1, "a1"), (2, "a2"), (3, "a3")], "k long, av string")
    b = spark.createDataFrame([(1, "b1"), (2, "b2"), (3, "b3")], "k long, bv string")
    old_a, delta_a = a.filter("k <= 2"), a.filter("k > 2")
    old_b, delta_b = b.filter("k != 2"), b.filter("k = 2")
    full = a.join(b, "k")
    maintained = old_a.join(old_b, "k").unionByName(
        cdc.incremental_join_insert_only(old_a, delta_a, old_b, delta_b, ["k"])
    )
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, maintained.collect())
    )


def test_balance_to_min_stratum(spark):
    from data_integration_and_visualization_uc3m_spark.operators import sampling

    # skewed strata: 800 'en', 150 'de', 50 'fr' -> everything targets ~50
    rows = (
        [(i, "en") for i in range(800)]
        + [(i, "de") for i in range(800, 950)]
        + [(i, "fr") for i in range(950, 1000)]
    )
    df = spark.createDataFrame(rows, "k long, lang string")
    kept = sampling.balance_to_min_stratum(df, "lang", "k").collect()
    by = {}
    for r in kept:
        by.setdefault(r.lang, []).append(r.k)
    # the smallest stratum is kept WHOLE (threshold is exactly 2^32)
    assert len(by["fr"]) == 50
    # larger strata land near the target with hash-sampling tolerance
    assert 25 <= len(by["en"]) <= 85
    assert 25 <= len(by["de"]) <= 85
    # deterministic re-run selects identical rows
    again = sampling.balance_to_min_stratum(df, "lang", "k").collect()
    assert sorted((r.lang, r.k) for r in kept) == sorted(
        (r.lang, r.k) for r in again
    )


def test_curriculum_order_is_total_and_bucket_monotone(spark):
    from data_integration_and_visualization_uc3m_spark.operators import mixing

    rows = [(i, (i % 10) / 10.0 + 0.05) for i in range(40)] + [(100, 1.0)]
    df = spark.createDataFrame(rows, "doc_id long, q double")
    out = mixing.curriculum_order(df, "q", n_buckets=10).collect()
    assert len(out) == 41
    ranks = sorted(r.curriculum_rank for r in out)
    assert ranks == list(range(1, 42))  # total order, no gaps or ties
    # higher-quality buckets come strictly first
    by_rank = sorted(out, key=lambda r: r.curriculum_rank)
    buckets = [r.bucket for r in by_rank]
    assert buckets == sorted(buckets, reverse=True)
    # q = 1.0 clamps into the top bucket
    top = next(r for r in out if r.doc_id == 100)
    assert top.bucket == 9


def test_epoch_plan_repeats_scarce_and_subsamples_abundant(spark):
    from data_integration_and_visualization_uc3m_spark.operators import mixing

    rows = [("web", 1000), ("web", 1000), ("books", 100)]
    df = spark.createDataFrame(rows, "source string, tokens long")
    out = {
        r.source: r
        for r in mixing.epoch_plan(
            df, {"web": 0.5, "books": 0.5}, token_budget=1000
        ).collect()
    }
    # each source targets 500 tokens: books has 100 → 5 epochs;
    # web has 2000 → 0.25 epochs
    assert out["books"].target_tokens == 500
    assert out["books"].epochs_fp6 == 5_000_000
    assert out["web"].epochs_fp6 == 250_000
    assert out["web"].n_docs == 2 and out["web"].avail_tokens == 2000


def test_self_join_blowup_exact_sum_of_squares(spark):
    from data_integration_and_visualization_uc3m_spark.operators import skew

    rows = [(1,)] * 3 + [(2,)] * 2 + [(3,)]
    df = spark.createDataFrame(rows, "k long")
    r = skew.self_join_blowup(df, "k").collect()[0]
    assert r.n_rows == 6
    assert r.predicted_pairs == 9 + 4 + 1
    assert r.max_key_pairs == 9
    assert abs(r.blowup_factor - 14 / 6) < 1e-12
    assert abs(r.top_key_share - 9 / 14) < 1e-12


def test_epoch_apply_integer_repeats_and_fractional_draw(spark):
    from data_integration_and_visualization_uc3m_spark.operators import mixing

    # one source, budget forcing exactly 2.5 epochs: every doc appears
    # 2 or 3 times, mean instances ≈ 2.5
    rows = [(i, "s", 100) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, source string, tokens long")
    # avail = 4000, weight 1.0, budget 10000 → epochs = 2.5
    inst = mixing.epoch_apply(df, {"s": 1.0}, token_budget=10000).collect()
    per = {}
    for r in inst:
        per[r.doc_id] = per.get(r.doc_id, 0) + 1
    assert set(per) == set(range(40))  # every doc present
    assert all(c in (2, 3) for c in per.values())
    n3 = sum(1 for c in per.values() if c == 3)
    assert 5 <= n3 <= 35  # the md5 draw keeps roughly half at 3
    # deterministic: identical on re-run
    again = mixing.epoch_apply(df, {"s": 1.0}, token_budget=10000).collect()
    assert sorted((r.doc_id, r.epoch) for r in again) == sorted(
        (r.doc_id, r.epoch) for r in inst
    )


def test_temperature_plan_damps_head_sources(spark):
    from data_integration_and_visualization_uc3m_spark.operators import mixing

    rows = [("big", 10000), ("small", 100)]
    df = spark.createDataFrame(rows, "source string, tokens long")
    got = {
        r.source: r
        for r in mixing.temperature_plan(df, token_budget=1000).collect()
    }
    # raw ratio 100:1 → sqrt-damped 10:1
    assert abs(got["big"].share / got["small"].share - 10.0) < 1e-9
    assert got["big"].target_tokens + got["small"].target_tokens <= 1000
    # sqrt damping: big's share (10/11) < its raw share (100/101)
    assert got["big"].share < 10000 / 10100
