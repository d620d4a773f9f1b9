"""Property-based spot checks (SURVEY §5.5) — driven through Spark on
small generated batches (hypothesis generates, one Spark job verifies
per property)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from data_integration_and_visualization_uc3m_spark.operators import cleaning, upsert

TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=30
)


@settings(max_examples=10, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=8))
def test_normalize_idempotent_property(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    once = [r.n for r in df.select(cleaning.normalize_string("v").alias("n")).collect()]
    twice = [
        r.n
        for r in df.select(
            cleaning.normalize_string(cleaning.normalize_string("v")).alias("n")
        ).collect()
    ]
    assert once == twice


@settings(max_examples=10, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=8))
def test_coercion_never_throws_property(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    out = df.select(cleaning.coerce_numeric("v").alias("n")).collect()
    assert len(out) == len(values)  # null-on-garbage, never an exception


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100)), min_size=1, max_size=20
    )
)
def test_upsert_output_keys_unique_property(spark, rows):
    df = spark.createDataFrame(rows, "k int, v int")
    target = spark.createDataFrame([(0, -1)], "k int, v int")
    out = upsert.upsert_ignore(target, df, keys=["k"], order_by=["v"])
    keys = [r.k for r in out.collect()]
    assert len(keys) == len(set(keys))


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 500), st.sampled_from(["a", "b", "c"])),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    )
)
def test_balance_to_min_stratum_properties(spark, rows):
    """Invariants: the smallest stratum survives whole; no stratum ever
    keeps more rows than it had; the selection is deterministic."""
    from data_integration_and_visualization_uc3m_spark.operators import sampling

    df = spark.createDataFrame(rows, "k long, g string")
    before = {}
    for _, g in rows:
        before[g] = before.get(g, 0) + 1
    n_min = min(before.values())
    kept = sampling.balance_to_min_stratum(df, "g", "k").collect()
    after = {}
    for r in kept:
        after[r.g] = after.get(r.g, 0) + 1
    for g, n in after.items():
        assert n <= before[g]
    # smallest stratum's threshold is exactly 2^32 => kept whole
    smallest = min(before, key=lambda g: (before[g], g))
    if before[smallest] == n_min:
        assert after.get(smallest, 0) == n_min
    again = sampling.balance_to_min_stratum(df, "g", "k").collect()
    assert sorted((r.g, r.k) for r in kept) == sorted((r.g, r.k) for r in again)


@settings(max_examples=8, deadline=None)
@given(st.lists(st.text(alphabet="abc ", min_size=1, max_size=40), min_size=1, max_size=6))
def test_char_entropy_bounds_property(spark, texts):
    """0 ≤ H ≤ ln(#distinct chars), with equality iff uniform/constant."""
    import math

    from data_integration_and_visualization_uc3m_spark.operators import corpus_stats

    rows = [(i, "s", t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r.doc_id: r for r in corpus_stats.char_entropy(df).collect()}
    for i, t in enumerate(rows):
        text = t[2]
        if len(text) == 0:
            continue
        r = out[i]
        distinct = len(set(text))
        assert -1 <= r.entropy_fp6  # fp6 floor can dip epsilon under 0
        assert r.entropy_fp6 <= math.log(max(distinct, 1)) * 1e6 + 1


@settings(max_examples=8, deadline=None)
@given(st.lists(st.integers(0, 30), min_size=1, max_size=60))
def test_cms_dominates_exact_property(spark, keys):
    """CMS point estimate ≥ exact count, for every key, any data."""
    from pyspark.sql import functions as F

    from data_integration_and_visualization_uc3m_spark.operators import sketches

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    sk = sketches.cms_build(df, "k", depth=3, width=8)  # narrow → collisions
    exact = df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    est = sketches.cms_estimate(sk, exact.select("k"), "k", depth=3, width=8)
    for r in exact.join(est, "k").collect():
        assert r.cms_est >= r.n


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(0, 500), min_size=1, max_size=40),
    st.lists(st.integers(0, 500), min_size=1, max_size=40),
)
def test_bloom_one_sided_property(spark, members, probes):
    """No false negatives, for any member/probe sets."""
    from data_integration_and_visualization_uc3m_spark.operators import sketches

    m = spark.createDataFrame([(v,) for v in set(members)], "k long")
    p = spark.createDataFrame([(v,) for v in set(probes)], "k long")
    bits = sketches.bloom_build(m, "k", n_bits=64, k=2)  # tiny → many FPs
    passed = {
        r.k for r in sketches.bloom_pass_keys(p, "k", bits, n_bits=64, k=2).collect()
    }
    true_members = set(members) & set(probes)
    assert true_members <= passed


def _lev(a: str, b: str) -> int:
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
    return dp[len(b)]


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcx", min_size=0, max_size=8),
        min_size=2,
        max_size=10,
    ),
    st.integers(1, 3),
)
def test_fuzzy_blocking_lossless_property(spark, values, d):
    """Length-band blocking must equal the quadratic all-pairs filter
    for ANY vocabulary and distance bound — including empty strings
    and values straddling bucket edges."""
    import itertools

    from data_integration_and_visualization_uc3m_spark.operators import linkage

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "id long, name string"
    )
    got = {
        (r.name_a, r.name_b)
        for r in linkage.fuzzy_name_pairs(df, "name", max_distance=d).collect()
    }
    vocab = sorted(set(values))
    truth = {
        (a, b)
        for a, b in itertools.combinations(vocab, 2)
        if _lev(a, b) <= d
    }
    assert got == truth


# --- round-5 continuation operators ---------------------------------

IV = st.lists(
    st.tuples(st.integers(0, 400), st.integers(0, 120)),
    min_size=1,
    max_size=25,
)


@settings(max_examples=8, deadline=None)
@given(IV, st.sampled_from([7, 50, 1000]))
def test_interval_overlap_equals_bruteforce_property(spark, spans, cell):
    from data_integration_and_visualization_uc3m_spark.operators import joins

    ivs = [(i, s, s + w) for i, (s, w) in enumerate(spans)]
    df = spark.createDataFrame(ivs, "iid long, s long, e long")
    got = {
        (r["a_id"], r["b_id"]): r["overlap"]
        for r in joins.interval_overlap_pairs(df, "iid", "s", "e", cell).collect()
    }
    brute = {}
    for i, (ia, sa, ea) in enumerate(ivs):
        for ib, sb, eb in ivs[i + 1 :]:
            if sa < eb and sb < ea:
                brute[(ia, ib)] = min(ea, eb) - max(sa, sb)
    assert got == brute


@settings(max_examples=8, deadline=None)
@given(st.lists(st.integers(-100, 100), min_size=1, max_size=15))
def test_cusum_equals_recursion_property(spark, vals):
    from pyspark.sql import functions as F
    from data_integration_and_visualization_uc3m_spark.operators import timeseries

    rows = [("k", i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, t int, x double").select(
        "k", "t", F.col("x").cast("decimal(18,2)").alias("x")
    )
    out = {
        r["t"]: float(r["cusum_scaled"])
        for r in timeseries.cusum_above_mean(df, ["k"], "t", "x").collect()
    }
    n, mean = len(vals), sum(vals) / len(vals)
    s = 0.0
    for t, v in enumerate(vals):
        s = max(0.0, s + (v - mean))
        assert abs(out[t] - n * s) < 1e-6


@settings(max_examples=8, deadline=None)
@given(st.lists(st.integers(0, 30), min_size=1, max_size=40),
       st.integers(2, 10))
def test_equidepth_sizes_property(spark, vals, k):
    from pyspark.sql import functions as F
    from data_integration_and_visualization_uc3m_spark.operators import slicing

    rows = [("g", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, id int, v int")
    b = slicing.equidepth_buckets(df, ["g"], [F.col("v"), F.col("id")], k, "bkt")
    sizes = [0] * k
    for r in b.collect():
        sizes[r["bkt"]] += 1
    assert sum(sizes) == len(vals)
    nonzero = [s for s in sizes if s] if len(vals) < k else sizes
    assert max(sizes) - min(nonzero) <= 1


@settings(max_examples=6, deadline=None)
@given(st.lists(st.integers(0, 8), min_size=1, max_size=60),
       st.integers(1, 9))
def test_global_rank_equals_sorted_property(spark, vals, parts):
    from pyspark.sql import functions as F
    from data_integration_and_visualization_uc3m_spark.operators import slicing

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, v int")
    got = {
        r["id"]: r["global_rank"]
        for r in slicing.global_rank(
            df, [F.col("v"), F.col("id")], num_partitions=parts
        ).collect()
    }
    expect = {
        i: rank + 1
        for rank, (i, _) in enumerate(sorted(rows, key=lambda t: (t[1], t[0])))
    }
    assert got == expect


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.integers(0, 30), min_size=0, max_size=15, unique=True),
    st.lists(st.integers(0, 30), min_size=0, max_size=15, unique=True),
    st.integers(1, 10),
)
def test_rrf_fuse_matches_reference_model(spark, ids_a, ids_b, k):
    """rrf_fuse == the textbook RRF computed in plain Python: per-arm
    floor(1e9/(60+rank)) summed, missing arm contributes 0, ties broken
    by id ascending."""
    from data_integration_and_visualization_uc3m_spark.operators import similarity

    a = [(d, r + 1) for r, d in enumerate(ids_a)]
    b = [(d, r + 1) for r, d in enumerate(ids_b)]
    dfa = spark.createDataFrame(a, "doc_id long, rank int") if a else \
        spark.createDataFrame([], "doc_id long, rank int")
    dfb = spark.createDataFrame(b, "doc_id long, rank int") if b else \
        spark.createDataFrame([], "doc_id long, rank int")
    got = [
        (r.doc_id, r.rrf_fp9)
        for r in similarity.rrf_fuse(dfa, dfb, k=k).collect()
    ]
    ra, rb = dict(a), dict(b)
    model = {
        d: (int(1e9) // (60 + ra[d]) if d in ra else 0)
        + (int(1e9) // (60 + rb[d]) if d in rb else 0)
        for d in set(ra) | set(rb)
    }
    expect = sorted(model.items(), key=lambda t: (-t[1], t[0]))[:k]
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(
    st.lists(  # doc -> small item set over a tiny shared vocabulary
        st.sets(st.integers(min_value=0, max_value=11), min_size=1,
                max_size=8),
        min_size=2,
        max_size=10,
    )
)
def test_ppjoin_prefix_filter_lossless_property(spark, sets):
    """PPJoin prefix filtering is LOSSLESS: for arbitrary small item
    sets, the prefix-filtered join returns exactly the brute-force
    quadratic set of pairs with Jaccard >= 3/5 — same pairs, same
    exact intersection/size/jaccard_milli values."""
    from data_integration_and_visualization_uc3m_spark.operators.dedup import (
        ppjoin_pairs,
    )

    rows = [
        (i, f"w{w}") for i, s in enumerate(sets) for w in sorted(s)
    ]
    df = spark.createDataFrame(rows, "doc_id long, shingle string")
    got = {
        (r.id_a, r.id_b): (r.n_common, r.size_a, r.size_b,
                           r.jaccard_milli)
        for r in ppjoin_pairs(df).collect()
    }

    expect = {}
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            inter = len(sets[i] & sets[j])
            union = len(sets[i] | sets[j])
            if 5 * inter >= 3 * union:
                expect[(i, j)] = (
                    inter, len(sets[i]), len(sets[j]),
                    inter * 1000 // union,
                )
    assert got == expect


def test_ppjoin_duplicate_items_enforced(spark):
    """assume_distinct=False restores set semantics for inputs whose
    (id, item) rows carry duplicates (ADVICE r12: with the default
    fast path a duplicated item occupies two sorted positions and
    multiplies n_common in the verify count)."""
    from data_integration_and_visualization_uc3m_spark.operators.dedup import (
        ppjoin_pairs,
    )

    sets = [{0, 1, 2, 3}, {0, 1, 2, 4}, {7, 8}]
    rows = [
        (i, f"w{w}") for i, s in enumerate(sets) for w in sorted(s)
    ]
    # duplicate every item of doc 0 and one item of doc 1
    rows += [(0, f"w{w}") for w in sorted(sets[0])] + [(1, "w0")]
    df = spark.createDataFrame(rows, "doc_id long, shingle string")
    got = {
        (r.id_a, r.id_b): (r.n_common, r.size_a, r.size_b,
                           r.jaccard_milli)
        for r in ppjoin_pairs(df, assume_distinct=False).collect()
    }
    assert got == {(0, 1): (3, 4, 4, 600)}


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=50_000),
             min_size=1, max_size=40),
    st.lists(st.integers(min_value=1, max_value=100),
             min_size=1, max_size=4, unique=True),
)
def test_two_phase_nearest_rank_quantile_property(spark, vals, ps):
    """The bucket-histogram two-phase nearest-rank quantile (the
    quantile_treatment_effect plan: histogram -> locate bucket ->
    rank inside ONE bucket) returns exactly sorted(vals)[ceil(p*n/100)]
    for arbitrary values and percentiles — the distributed recipe and
    the naive global sort agree."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "rid long, v long"
    )
    n = len(vals)
    hist = df.groupBy(F.expr("v div 1000").alias("bkt")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wc = (
        Window.orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hist = hist.withColumn("cum", F.sum("cnt").over(wc))
    targets = spark.createDataFrame(
        [(p, (p * n + 99) // 100) for p in ps], "p long, r long"
    )
    tb = targets.join(
        hist,
        (F.col("cum") >= F.col("r"))
        & (F.col("cum") - F.col("cnt") < F.col("r")),
    ).select("p", "bkt", (F.col("r") - (F.col("cum") - F.col("cnt"))).alias("off"))
    wq = Window.partitionBy("p").orderBy("v", "rid")
    got = {
        r.p: r.v
        for r in df.withColumn("bkt", F.expr("v div 1000"))
        .join(tb, "bkt")
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == F.col("off"))
        .select("p", "v")
        .collect()
    }
    sv = sorted(vals)
    expect = {p: sv[(p * n + 99) // 100 - 1] for p in ps}
    assert got == expect


def test_heaps_fit_known_counts(spark):
    """heaps_fit checkpoint math on a hand-computable corpus: with one
    source, ids 0..9, and doc i contributing tokens {t0..t_i} (vocab
    grows one token per doc, token count grows linearly), the final
    checkpoint must see the exact full token count and vocabulary, and
    the fitted beta must be positive and below 1e6 (V grows sublinearly
    vs n here: V(n) ~ sqrt(2n))."""
    from data_integration_and_visualization_uc3m_spark.operators.corpus_stats import (
        heaps_fit,
    )

    rows = [
        (i, "s", " ".join(f"t{j}" for j in range(i + 1)))
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = heaps_fit(df).collect()
    assert len(out) == 1
    r = out[0]
    assert r.tokens_final == sum(i + 1 for i in range(10))  # 55
    assert r.vocab_final == 10
    assert r.n_points == 10
    assert 0 < r.heaps_beta_fp6 < 1_000_000
