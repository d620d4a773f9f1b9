"""Unit tests for operators.sketches (Count-Min + Bloom).

Oracle coverage for the same paths lives in `heavy_hitters_cms` and
`bloom_prefilter_orders`; these pin the structural guarantees.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_integration_and_visualization_uc3m_spark.operators import sketches


def _keys(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "k long")


def test_cms_never_undercounts_and_is_exact_without_collisions(spark):
    # few distinct keys ≪ width ⇒ estimates usually exact; always ≥ exact
    data = [1] * 10 + [2] * 5 + [3] * 1
    df = _keys(spark, data)
    sk = sketches.cms_build(df, "k", depth=4, width=256)
    exact = df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    est = sketches.cms_estimate(sk, exact.select("k"), "k", depth=4, width=256)
    rows = {r.k: (r.n, r.cms_est) for r in exact.join(est, "k").collect()}
    for k, (n, e) in rows.items():
        assert e >= n, (k, n, e)
    assert rows[1][0] == 10 and rows[2][0] == 5 and rows[3][0] == 1


def test_cms_total_mass_per_row(spark):
    # every depth row holds the full input mass
    df = _keys(spark, list(range(50)) * 2)
    sk = sketches.cms_build(df, "k", depth=4, width=16)
    per_row = {r.r: r.s for r in sk.groupBy("r").agg(F.sum("c").alias("s")).collect()}
    assert set(per_row) == {0, 1, 2, 3}
    assert all(v == 100 for v in per_row.values())


def test_cms_partition_invariance(spark):
    df = _keys(spark, [i % 7 for i in range(200)])
    one = {(r.r, r.col): r.c for r in sketches.cms_build(df.coalesce(1), "k").collect()}
    many = {(r.r, r.col): r.c for r in sketches.cms_build(df.repartition(8), "k").collect()}
    assert one == many


def test_bloom_no_false_negatives(spark):
    members = _keys(spark, list(range(0, 100, 3)))
    bits = sketches.bloom_build(members, "k", n_bits=512, k=3)
    passed = {
        r.k
        for r in sketches.bloom_pass_keys(members, "k", bits, n_bits=512, k=3).collect()
    }
    assert passed == set(range(0, 100, 3))  # every member passes


def test_bloom_prefilter_is_superset_of_true_join(spark):
    members = _keys(spark, list(range(0, 1000, 17)))
    probe = _keys(spark, list(range(500)))
    bits = sketches.bloom_build(members, "k", n_bits=2048, k=3)
    kept = {
        r.k
        for r in sketches.bloom_pass_keys(probe, "k", bits, n_bits=2048, k=3).collect()
    }
    true = {r.k for r in probe.join(members, "k", "left_semi").collect()}
    assert true <= kept  # one-sided error
    # and the filter actually prunes something at this density
    assert len(kept) < 500


def test_bloom_bits_bounded(spark):
    members = _keys(spark, list(range(10_000)))
    bits = sketches.bloom_build(members, "k", n_bits=128, k=3)
    n = bits.count()
    assert n <= 128


def test_cms_width_sweep_consistent_with_heavy_hitters(spark):
    """The sweep's width-256 arm must aggregate exactly the per-key
    rows heavy_hitters_cms reports (same seed, depth, probe set), and
    every arm must respect the never-undercounts invariant."""
    from data_integration_and_visualization_uc3m_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    sweep = {r.width: r for r in
             Q.REGISTRY["cms_width_error_sweep"].fn(spark, sf).collect()}
    assert sorted(sweep) == [64, 256, 1024]
    hh = Q.REGISTRY["heavy_hitters_cms"].fn(spark, sf).collect()
    assert len(hh) == sweep[256].n_keys
    assert sweep[256].sum_exact == sum(r.exact_n for r in hh)
    assert sweep[256].sum_est == sum(r.cms_est for r in hh)
    assert sweep[256].total_overcount == sum(r.overcount for r in hh)
    assert sweep[256].max_overcount == max(r.overcount for r in hh)
    for w, r in sweep.items():
        assert r.total_overcount >= 0 and r.max_overcount >= 0
        assert r.sum_est >= r.sum_exact


# --- HLL register / KMV theta relations (queries hll_register_distinct,
# kmv_theta_intersection) — pin the sketch math against a pure-Python
# reference on the real sf0.001 orders table.

def _py_hll(keys, m=256):
    import hashlib
    regs = {}
    for k in keys:
        hv = int(hashlib.md5(f"h:{k}".encode()).hexdigest()[:15], 16)
        bucket = hv % m
        w32 = (hv // m) % (1 << 32)
        rho = 33 if w32 == 0 else (33 - w32.bit_length())
        regs[bucket] = max(regs.get(bucket, 0), rho)
    s = sum(1 << (33 - r) for r in regs.values())
    s += (m - len(regs)) * (1 << 33)
    alpha = 0.7213 / (1.0 + 1.079 / 256.0)
    return regs, s, alpha * 65536.0 * 8589934592.0 / s


def test_hll_registers_match_python_reference(spark):
    import duckdb

    from data_integration_and_visualization_uc3m_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["hll_register_distinct"].fn(spark, sf).collect()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf}/orders.parquet')"
    )
    by_prio = {}
    for prio, ck in con.execute(
        "SELECT o_orderpriority, o_custkey FROM orders"
    ).fetchall():
        by_prio.setdefault(prio, []).append(ck)
    assert len(rows) == len(by_prio)
    for r in rows:
        regs, s, est = _py_hll(by_prio[r.o_orderpriority])
        assert r.s_scaled == s, r.o_orderpriority
        assert r.buckets_hit == len(regs)
        assert r.raw_estimate == est  # bit-identical double chain
        assert r.merge_consistent is True
        exact = len(set(by_prio[r.o_orderpriority]))
        assert r.exact_distinct == exact
        # HLL with m=256 has rsd ~= 1.04/16 = 6.5%; allow 4 sigma
        if not r.lc_regime:
            assert abs(r.raw_estimate - exact) / exact < 0.26


def test_kmv_theta_estimate_brackets_exact(spark):
    from data_integration_and_visualization_uc3m_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["kmv_theta_intersection"].fn(spark, sf).collect()
    assert len(rows) == 10  # C(5,2) priority pairs
    for r in rows:
        assert r.p1 < r.p2
        assert r.kmv_matches <= r.k
        assert r.theta <= 1152921504606846976
        if r.theta == 1152921504606846976:
            # full-set regime: estimate is exact
            assert int(round(r.theta_estimate)) == r.exact_common
        elif r.exact_common >= 64:
            # sketch regime: within 6 sigma of ~1/sqrt(k) rsd
            assert abs(r.theta_estimate - r.exact_common) <= (
                0.75 * r.exact_common + 64
            )


def test_kmv_full_set_regime_is_exact(spark, tmp_path):
    # Groups with fewer than k=64 distinct customers keep their whole
    # hash set and theta = 2^60: the estimate must equal the exact
    # intersection. Not exercised by the driver SFs (every priority
    # has >64 customers), so pin it on a synthetic mini orders table.
    import duckdb
    import pandas as pd

    from data_integration_and_visualization_uc3m_spark.queries import REGISTRY

    rows = []
    ok = 0
    for prio, custs in [("1-URGENT", range(10)), ("2-HIGH", range(5, 15)),
                        ("3-MEDIUM", range(8, 12))]:
        for c in custs:
            ok += 1
            rows.append((ok, c, prio))
    pdf = pd.DataFrame(rows, columns=["o_orderkey", "o_custkey",
                                      "o_orderpriority"])
    # write with the columns the loader contract expects; extra orders
    # columns the query never touches can be absent only if load_table
    # tolerates it — it casts declared columns, so provide them all
    full = pdf.assign(
        o_orderstatus="O", o_totalprice=1.0, o_orderdate="1995-01-01",
        o_clerk="c", o_shippriority=0, o_comment="x",
    )
    full["o_orderdate"] = pd.to_datetime(full["o_orderdate"]).dt.date
    sfdir = tmp_path / "mini"
    sfdir.mkdir()
    duck = duckdb.connect()
    duck.register("t", full)
    duck.execute(
        f"COPY t TO '{sfdir}/orders.parquet' (FORMAT PARQUET)"
    )
    out = {(r.p1, r.p2): r for r in
           REGISTRY["kmv_theta_intersection"].fn(spark, str(sfdir)).collect()}
    assert len(out) == 3
    for r in out.values():
        assert r.theta == 1152921504606846976
        assert int(round(r.theta_estimate)) == r.exact_common
    assert out[("1-URGENT", "2-HIGH")].exact_common == 5
    assert out[("1-URGENT", "3-MEDIUM")].exact_common == 2
    assert out[("2-HIGH", "3-MEDIUM")].exact_common == 4
