"""Query registry — part 10: round-12 additions.

Continues the chain (see queries/_core.py). Two themes:

Experiment-operations / diagnostics — exact Fisher randomization
tests, Benjamini-Hochberg FDR correction, sample-ratio-mismatch (SRM)
guardrails, quantile treatment effects, post-stratified uplift, and
OLS leverage/outlier diagnostics: the metric-quality layer an eval
platform runs ABOVE the per-metric tests of parts 8-9 (one test is
never run alone; families of tests need FDR control, and every A/B
readout needs an SRM gate before anyone trusts it). Plus Heaps'-law
vocabulary growth (tokenizer budget planning) and CBO-style join-size
estimation via distinct-value sampling.

Engine-surface completions — the remaining built-in source/sink
formats under the oracle gate (ORC columnar roundtrip, binaryFile
media ingest with real pixel decode, raw-text log-line ETL via
spark.read.text + regexp/try_cast) and bounded-leg Bellman-Ford
weighted shortest paths (the weighted-graph primitive BFS hop
counting can't express).

Registration order is append-only.
"""

from __future__ import annotations

from ._p09 import *  # noqa: F401,F403

# Shared oracle CTE: per-nation Fisher randomization (permutation) test
# on the paired daily half-difference of order revenue. The pairing is
# user-parity halves per (nation, day); under H0 the halves are
# exchangeable, so each day's difference is sign-symmetric and the
# randomization distribution is the 2^n_days sign-flip family, sampled
# with B=64 deterministic md5 sign draws. Exact integers end to end:
# cents, |sums|, and the (1 + #{T_b >= T_obs}) / (B+1) estimator in
# milli (the +1s make it a valid p-value, Phipson & Smyth 2010).
_PERM_P_CTE = """daily AS (
        SELECT c.c_nationkey AS nation,
               CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS day,
               SUM(CASE WHEN o.o_custkey % 2 = 0
                        THEN CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                  * 100 AS BIGINT)
                        ELSE -CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                   * 100 AS BIGINT) END) AS d_cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ), tobs AS (
        SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_days,
               ABS(SUM(d_cents)) AS t_obs_cents
        FROM daily GROUP BY nation
    ), perm AS (
        SELECT nation, b.b,
               ABS(SUM(CASE WHEN ('0x' || substr(md5(
                        'pt:' || CAST(b.b AS VARCHAR) || ':'
                        || CAST(nation AS VARCHAR) || ':' || day),
                        1, 8))::BIGINT % 2 = 0
                        THEN d_cents ELSE -d_cents END)) AS t_b
        FROM daily CROSS JOIN generate_series(1, 64) b(b)
        GROUP BY nation, b.b
    ), pv AS (
        SELECT t.nation, t.n_days,
               CAST(t.t_obs_cents AS BIGINT) AS t_obs_cents,
               CAST(SUM(CASE WHEN p.t_b >= t.t_obs_cents
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
               CAST((1 + SUM(CASE WHEN p.t_b >= t.t_obs_cents
                                  THEN 1 ELSE 0 END)) * 1000 // 65
                    AS BIGINT) AS p_milli
        FROM tobs t JOIN perm p ON p.nation = t.nation
        GROUP BY t.nation, t.n_days, t.t_obs_cents
    )"""


def _perm_p_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _PERM_P_CTE: returns (nation, n_days, t_obs_cents,
    n_ge, p_milli), one row per nation. Shape for scale: one grouped
    pass collapses the order corpus to the (nation, day) relation
    (bounded by the nation-count x date-span product), and the 64-way
    sign explode runs over THAT, never the corpus — permutation cost is
    independent of order volume."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cents = F.expr(
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
    )
    daily = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")),
               o.o_custkey == F.col("c_custkey"))
        .select(
            F.col("c_nationkey").alias("nation"),
            F.col("o_orderdate").cast("date").cast("string").alias("day"),
            F.when(F.col("o_custkey") % 2 == 0, cents)
            .otherwise(-cents).alias("signed_cents"),
        )
        .groupBy("nation", "day")
        .agg(F.sum("signed_cents").alias("d_cents"))
        # Respread BEFORE the checkpoint (r15, guide §2.5 — the
        # hash_bootstrap disease): AQE coalesces the tiny grouped
        # aggregate to ONE partition, so the 64-way explode's ~3.5M
        # md5+conv evaluations ran on one core (measured 2.6-3.4 s for
        # the perm stage; respread 0.65-1.2 s). Sign draws are md5 of
        # row content — partition-independent — and defaultParallelism
        # keeps the count scale-adaptive.
        .repartition(spark.sparkContext.defaultParallelism)
        # daily feeds BOTH t_obs and the 64-way permutation arm and
        # Spark does no CSE across them — unstaged, the order scan +
        # join + groupBy ran twice (the contrastive/ivf disease).
        .localCheckpoint()
    )
    tobs = daily.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.abs(F.sum("d_cents")).alias("t_obs_cents"),
    )
    sign_hash = F.conv(
        F.substring(
            F.md5(F.concat(
                F.lit("pt:"), F.col("b").cast("string"), F.lit(":"),
                F.col("nation").cast("string"), F.lit(":"), F.col("day"),
            )),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    perm = (
        daily.select(
            "nation", "day", "d_cents",
            F.explode(F.sequence(F.lit(1), F.lit(64))).alias("b"),
        )
        .select(
            "nation", "b",
            F.when(sign_hash % 2 == 0, F.col("d_cents"))
            .otherwise(-F.col("d_cents")).alias("s_cents"),
        )
        .groupBy("nation", "b")
        .agg(F.abs(F.sum("s_cents")).alias("t_b"))
    )
    return (
        perm.join(F.broadcast(tobs), "nation")
        .groupBy("nation", "n_days", "t_obs_cents")
        .agg(
            F.sum(
                F.when(F.col("t_b") >= F.col("t_obs_cents"), 1).otherwise(0)
            ).cast("long").alias("n_ge")
        )
        .select(
            "nation", "n_days",
            F.col("t_obs_cents").cast("long").alias("t_obs_cents"),
            "n_ge",
            F.expr("CAST((1 + n_ge) * 1000 div 65 AS BIGINT)")
            .alias("p_milli"),
        )
    )


@register(
    "permutation_test_nation_revenue",
    f"""
    WITH {_PERM_P_CTE}
    SELECT nation, n_days, t_obs_cents, n_ge, p_milli
    FROM pv ORDER BY nation
    """,
    ops=["permutation-test", "randomization-inference", "ab-eval"],
)
def permutation_test_nation_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact Fisher randomization test per nation — the
    distribution-free A/B significance test (Fisher 1935; Phipson &
    Smyth 2010 for the +1 estimator): is the daily revenue difference
    between the two user-parity halves sign-symmetric? T_obs = |sum of
    daily differences|; 64 deterministic md5 sign assignments resample
    the randomization distribution; p = (1 + #{{T_b >= T_obs}})/65 in
    milli. No normality assumption, no variance estimate — the test the
    eval platform reaches for when the t-test's assumptions are suspect.
    Scale: the corpus collapses to the bounded (nation, day) relation
    before the 64-way explode, so permutation cost never tracks order
    volume; everything after the first grouped pass is map-side
    arithmetic over a few thousand rows."""
    return _perm_p_rel(spark, sf_dir).orderBy("nation")


@register(
    "bh_fdr_nation_tests",
    f"""
    WITH {_PERM_P_CTE}, ranked AS (
        SELECT nation, p_milli,
               CAST(ROW_NUMBER() OVER (ORDER BY p_milli, nation)
                    AS BIGINT) AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS m
        FROM pv
    ), kstar AS (
        SELECT COALESCE(MAX(CASE WHEN p_milli * m <= 50 * i
                                 THEN i END), 0) AS k
        FROM ranked
    )
    SELECT r.nation, r.p_milli, r.i AS p_rank, r.m AS n_tests,
           CAST(50 * r.i // r.m AS BIGINT) AS bh_threshold_milli,
           CAST(CASE WHEN r.p_milli * r.m <= 50 * r.i
                     THEN 1 ELSE 0 END AS BIGINT) AS under_threshold,
           CAST(CASE WHEN r.i <= k.k THEN 1 ELSE 0 END AS BIGINT)
               AS rejected
    FROM ranked r CROSS JOIN kstar k
    ORDER BY r.i
    """,
    ops=["benjamini-hochberg", "fdr-control", "multiple-testing"],
)
def bh_fdr_nation_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR correction (1995) over the per-nation
    permutation p-values — the multiple-testing layer every metric
    family needs: sort p ascending, find the largest k with
    p_(k) <= k*alpha/m (alpha=0.05), reject ALL tests ranked <= k (BH
    rejects below the step-up point even where the pointwise inequality
    fails — the step-up subtlety naive implementations get wrong).
    The comparison is cross-multiplied (p_milli * m <= 50 * i) so no
    truncating division biases the cutoff; the displayed threshold
    column is truncating-div milli. Scale: the window and the step-up
    max run over the m-row test relation (m = nation count), never the
    data — correcting a million tests is a million-row window, still
    nothing."""
    # pv feeds the rank window AND the m-count aggregate — stage it so
    # the whole permutation pipeline runs once, not twice.
    pv = _perm_p_rel(spark, sf_dir).localCheckpoint()
    w = Window.orderBy("p_milli", "nation")
    ranked = pv.select(
        "nation", "p_milli",
        F.row_number().over(w).cast("long").alias("i"),
    ).crossJoin(
        F.broadcast(pv.agg(F.count(F.lit(1)).cast("long").alias("m")))
    )
    under = F.col("p_milli") * F.col("m") <= 50 * F.col("i")
    kstar = ranked.agg(
        F.coalesce(F.max(F.when(under, F.col("i"))), F.lit(0)).alias("k")
    )
    return (
        ranked.crossJoin(F.broadcast(kstar))
        .select(
            "nation", "p_milli",
            F.col("i").alias("p_rank"),
            F.col("m").alias("n_tests"),
            F.expr("CAST(50 * i div m AS BIGINT)")
            .alias("bh_threshold_milli"),
            F.when(under, 1).otherwise(0).cast("long")
            .alias("under_threshold"),
            F.when(F.col("i") <= F.col("k"), 1).otherwise(0).cast("long")
            .alias("rejected"),
        )
        .orderBy("p_rank")
    )


@register(
    "srm_check_report",
    """
    WITH users AS (
        SELECT DISTINCT user_id FROM events
    ), assigned AS (
        SELECT e.e AS experiment, u.user_id,
               CASE WHEN ('0x' || substr(md5(
                        'srm:' || CAST(e.e AS VARCHAR) || ':'
                        || CAST(u.user_id AS VARCHAR)), 1, 8))::BIGINT
                        % 1000
                    < (CASE WHEN e.e = 4 THEN 470 ELSE 500 END)
                    THEN 0 ELSE 1 END AS arm
        FROM users u CROSS JOIN generate_series(1, 4) e(e)
    )
    SELECT CAST(experiment AS BIGINT) AS experiment,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_arm0,
           CAST((2 * SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                 - COUNT(*))
                * (2 * SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                   - COUNT(*))
                * 1000000 // COUNT(*) AS BIGINT) AS chisq_micro,
           CAST(CASE WHEN (2 * SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                           - COUNT(*))
                          * (2 * SUM(CASE WHEN arm = 0
                                          THEN 1 ELSE 0 END)
                             - COUNT(*)) * 1000000 // COUNT(*)
                          > 3841459
                     THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
    FROM assigned GROUP BY experiment ORDER BY experiment
    """,
    ops=["sample-ratio-mismatch", "ab-guardrail", "chisq-gof"],
)
def srm_check_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail — the chi-square goodness-of-fit
    check every A/B platform runs BEFORE reading any metric (Fabijan et
    al. 2019: a biased split invalidates the whole experiment): four
    deterministic md5 user->arm assignments at a nominal 50/50 split,
    experiment 4 PLANTED with a 47/53 skew so the gate provably fires.
    For a two-arm GOF the statistic collapses to (2*O_0 - n)^2 / n
    (exact integer micro fixed point — no 0.5-expected-count floats);
    flag at the chi-square_1 0.05 critical value 3.841459. Scale: one
    distinct pass over users, a 4-way explode of the USER relation, one
    grouped count — map-side combine all the way; the planted-vs-clean
    contrast is the test fixture pattern the label-noise and
    Bradley-Terry reports use."""
    e = _t(spark, sf_dir, "events")
    users = e.select("user_id").distinct()
    arm_hash = F.conv(
        F.substring(
            F.md5(F.concat(
                F.lit("srm:"), F.col("experiment").cast("string"),
                F.lit(":"), F.col("user_id").cast("string"),
            )),
            1, 8,
        ),
        16, 10,
    ).cast("long") % 1000
    assigned = users.select(
        "user_id",
        F.explode(F.sequence(F.lit(1), F.lit(4))).alias("experiment"),
    ).select(
        "experiment",
        F.when(
            arm_hash
            < F.when(F.col("experiment") == 4, 470).otherwise(500),
            0,
        ).otherwise(1).alias("arm"),
    )
    dev = 2 * F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)) - F.count(
        F.lit(1)
    )
    return (
        assigned.groupBy("experiment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
            .cast("long").alias("n_arm0"),
            F.expr(
                "CAST(CAST((2 * SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)"
                " - COUNT(1)) AS DECIMAL(38,0))"
                " * (2 * SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)"
                " - COUNT(1)) * 1000000 div COUNT(1) AS BIGINT)"
            ).alias("chisq_micro"),
        )
        .select(
            F.col("experiment").cast("long").alias("experiment"),
            "n_users", "n_arm0", "chisq_micro",
            F.when(F.col("chisq_micro") > 3841459, 1).otherwise(0)
            .cast("long").alias("srm_flag"),
        )
        .orderBy("experiment")
    )


@register(
    "ols_leverage_outliers",
    """
    WITH daily AS (
        SELECT n.n_regionkey AS region,
               CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS day,
               SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS y_cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    ), xy AS (
        SELECT region, day,
               CAST(date_diff('day',
                    MIN(CAST(day AS DATE)) OVER (PARTITION BY region),
                    CAST(day AS DATE)) AS BIGINT) AS x,
               CAST(y_cents AS BIGINT) AS y_cents
        FROM daily
    ), mo AS (
        SELECT region, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(x) AS sx, SUM(y_cents) AS sy,
               SUM(x * x) AS sxx, SUM(x * y_cents) AS sxy
        FROM xy GROUP BY region
    ), fit AS (
        SELECT region, n, sx, sxx,
               (n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx)
                   AS slope_micro,
               (sy * 1000000
                - ((n * sxy - sx * sy) * 1000000
                   // (n * sxx - sx * sx)) * sx) // n AS icept_micro
        FROM mo
    ), diag AS (
        SELECT p.region, p.day, p.x, p.y_cents,
               p.y_cents * 1000000
                 - (f.icept_micro + f.slope_micro * p.x) AS resid_micro,
               1000000 // f.n
                 + (f.n * p.x - f.sx) * (f.n * p.x - f.sx) * 1000000
                   // (f.n * (f.n * f.sxx - f.sx * f.sx)) AS h_micro,
               f.n AS n
        FROM xy p JOIN fit f ON f.region = p.region
    ), ss AS (
        SELECT region, SUM(resid_micro * resid_micro) AS sum_r2
        FROM diag GROUP BY region
    ), flagged AS (
        SELECT d.region, d.day, d.x, d.y_cents,
               CAST(d.resid_micro AS BIGINT) AS resid_micro,
               CAST(d.h_micro AS BIGINT) AS h_micro,
               CAST(CASE WHEN d.resid_micro * d.resid_micro * d.n
                              > 9 * s.sum_r2
                         THEN 1 ELSE 0 END AS BIGINT) AS outlier_3s,
               CAST(CASE WHEN d.h_micro * d.n > 4000000
                         THEN 1 ELSE 0 END AS BIGINT) AS high_leverage,
               ROW_NUMBER() OVER (
                   PARTITION BY d.region
                   ORDER BY ABS(d.resid_micro) DESC, d.day) AS rn
        FROM diag d JOIN ss s ON s.region = d.region
    )
    SELECT region, day, x, y_cents, resid_micro, h_micro,
           outlier_3s, high_leverage
    FROM flagged WHERE rn <= 5 ORDER BY region, day
    """,
    ops=["ols-diagnostics", "leverage", "outlier-detection"],
)
def ols_leverage_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS regression diagnostics at scale — leverage and residual
    outliers for the daily-revenue-vs-time fit per region (Belsley,
    Kuh & Welsch 1980): hat values h_i = 1/n + (x_i - x_bar)^2/Sxx
    flag days that DOMINATE the fitted trend (h > 2p/n = 4/n), and the
    3-sigma residual test (resid^2 * n > 9 * sum(resid^2), exact
    cross-multiplied integers — no sqrt) flags days the trend can't
    explain; top-5 |residual| days per region surface for review. All
    fixed-point: micro slope/intercept from DECIMAL(38,0) moments with
    truncating div, so both engines agree bit-for-bit. Scale: one
    grouped pass to the (region, day) relation, one 6-number moment
    aggregate per region broadcast back — the diagnostic pass costs
    one shuffle of the bounded daily relation regardless of order
    volume."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    daily = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")),
               o.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_regionkey")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_regionkey").alias("region"),
            F.col("o_orderdate").cast("date").alias("day_d"),
        )
        .agg(
            F.sum(
                F.expr(
                    "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100"
                    " AS BIGINT)"
                )
            ).alias("y_cents")
        )
    )
    wmin = Window.partitionBy("region")
    # xy is the BOUNDED (region, day) relation but feeds the moment
    # aggregate AND the diagnostic join — stage it so the fact join
    # runs once (r12 rescan audit: 4 orders scans unstaged).
    xy = daily.select(
        "region",
        F.col("day_d").cast("string").alias("day"),
        F.datediff(F.col("day_d"), F.min("day_d").over(wmin))
        .cast("long").alias("x"),
        F.col("y_cents").cast("long").alias("y_cents"),
    ).localCheckpoint()
    d38 = lambda col: F.col(col).cast(DEC38)  # noqa: E731
    mo = xy.groupBy("region").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d38("x")).alias("sx"),
        F.sum(d38("y_cents")).alias("sy"),
        F.sum(d38("x") * d38("x")).alias("sxx"),
        F.sum(d38("x") * d38("y_cents")).alias("sxy"),
    )
    fit = mo.select(
        "region", "n", "sx", "sxx",
        F.expr(
            "(n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx)"
        ).alias("slope_micro"),
        F.expr(
            "(sy * 1000000 - ((n * sxy - sx * sy) * 1000000"
            " div (n * sxx - sx * sx)) * sx) div n"
        ).alias("icept_micro"),
    )
    diag = xy.join(F.broadcast(fit), "region").select(
        "region", "day", "x", "y_cents", "n",
        F.expr(
            "CAST(y_cents AS DECIMAL(38,0)) * 1000000"
            " - (icept_micro + slope_micro * x)"
        ).alias("resid_micro"),
        F.expr(
            "1000000 div n"
            " + CAST(n * x - sx AS DECIMAL(38,0)) * (n * x - sx)"
            " * 1000000 div (n * (n * sxx - sx * sx))"
        ).alias("h_micro"),
    )
    ss = diag.groupBy("region").agg(
        F.sum(F.expr("resid_micro * resid_micro")).alias("sum_r2")
    )
    wr = Window.partitionBy("region").orderBy(
        F.abs(F.col("resid_micro")).desc(), "day"
    )
    return (
        diag.join(F.broadcast(ss), "region")
        .select(
            "region", "day", "x", "y_cents",
            F.col("resid_micro").cast("long").alias("resid_micro"),
            F.col("h_micro").cast("long").alias("h_micro"),
            F.expr(
                "CAST(CASE WHEN resid_micro * resid_micro * n"
                " > 9 * sum_r2 THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("outlier_3s"),
            F.expr(
                "CAST(CASE WHEN h_micro * n > 4000000"
                " THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("high_leverage"),
            F.row_number().over(wr).alias("rn"),
        )
        .filter(F.col("rn") <= 5)
        .drop("rn")
        .orderBy("region", "day")
    )


@register(
    "quantile_treatment_effect",
    """
    WITH pur AS (
        SELECT user_id % 2 AS arm,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS v_cents,
               event_id
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL
    ), ranked AS (
        SELECT arm, v_cents,
               ROW_NUMBER() OVER (PARTITION BY arm
                                  ORDER BY v_cents, event_id) AS rn
        FROM pur
    ), na AS (
        SELECT arm, CAST(COUNT(*) AS BIGINT) AS n FROM pur GROUP BY arm
    ), t AS (
        SELECT na.arm, p.p AS p_pct, na.n,
               (p.p * na.n + 99) // 100 AS r
        FROM na CROSS JOIN (VALUES (25), (50), (75), (90)) p(p)
    ), q AS (
        SELECT t.p_pct, t.arm, t.n, rk.v_cents
        FROM t JOIN ranked rk ON rk.arm = t.arm AND rk.rn = t.r
    )
    SELECT CAST(p_pct AS BIGINT) AS p_pct,
           CAST(MAX(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n_ctrl,
           CAST(MAX(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n_treat,
           CAST(MAX(CASE WHEN arm = 0 THEN v_cents END) AS BIGINT)
               AS q_ctrl_cents,
           CAST(MAX(CASE WHEN arm = 1 THEN v_cents END) AS BIGINT)
               AS q_treat_cents,
           CAST(MAX(CASE WHEN arm = 1 THEN v_cents END)
                - MAX(CASE WHEN arm = 0 THEN v_cents END) AS BIGINT)
               AS qte_cents
    FROM q GROUP BY p_pct ORDER BY p_pct
    """,
    ops=["quantile-treatment-effect", "exact-quantile", "ab-eval"],
)
def quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effect — the distributional A/B readout a
    mean difference hides (Athey & Imbens 2017: a treatment can move
    the p90 while leaving the median alone): exact nearest-rank
    quantiles of purchase value per arm at p in {25,50,75,90},
    r = ceil(p*n/100), and the per-quantile treated-minus-control gap.

    The oracle spells the textbook per-arm global sort; the Spark plan
    is the distributed two-phase nearest-rank: a $10-bucket histogram
    (bounded by the value range, ~50 rows) carries cumulative counts,
    the target rank binary-locates its bucket in that broadcast
    relation, and only the ONE bucket holding each quantile is ranked
    row-by-row — the per-arm sort the oracle does never happens, and
    no window ever sees more than one bucket's rows (the global_rank
    recipe). Ties break on event_id; tied values make the tiebreak
    value-invariant."""
    e = _t(spark, sf_dir, "events")
    pur = e.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        (F.col("user_id") % 2).alias("arm"),
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .alias("v_cents"),
        "event_id",
    )
    na = pur.groupBy("arm").agg(F.count(F.lit(1)).cast("long").alias("n"))
    targets = na.select(
        "arm", "n",
        F.explode(F.array(F.lit(25), F.lit(50), F.lit(75), F.lit(90)))
        .alias("p_pct"),
    ).select(
        "arm", "n", "p_pct",
        F.expr("(p_pct * n + 99) div 100").alias("r"),
    )
    hist = pur.groupBy("arm", F.expr("v_cents div 1000").alias("bkt")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wc = (
        Window.partitionBy("arm")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hist = hist.withColumn("cum", F.sum("cnt").over(wc))
    # hist's arm aliased before the join: both sides derive from pur,
    # and same-lineage equality would lean on Dataset self-join
    # auto-resolution (ADVICE r12 — fragile across Spark versions).
    tb = targets.join(
        F.broadcast(hist.select(F.col("arm").alias("h_arm"), "bkt",
                                "cnt", "cum")),
        (F.col("arm") == F.col("h_arm"))
        & (F.col("cum") >= F.col("r"))
        & (F.col("cum") - F.col("cnt") < F.col("r")),
    ).select(
        "arm", "n", "p_pct", "bkt",
        (F.col("r") - (F.col("cum") - F.col("cnt"))).alias("offset"),
    )
    wq = Window.partitionBy("arm", "p_pct").orderBy("v_cents", "event_id")
    q = (
        pur.withColumn("bkt", F.expr("v_cents div 1000"))
        .join(F.broadcast(tb), ["arm", "bkt"])
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == F.col("offset"))
        .select("p_pct", "arm", "n", "v_cents")
    )
    return (
        q.groupBy("p_pct")
        .agg(
            F.max(F.when(F.col("arm") == 0, F.col("n"))).cast("long")
            .alias("n_ctrl"),
            F.max(F.when(F.col("arm") == 1, F.col("n"))).cast("long")
            .alias("n_treat"),
            F.max(F.when(F.col("arm") == 0, F.col("v_cents")))
            .cast("long").alias("q_ctrl_cents"),
            F.max(F.when(F.col("arm") == 1, F.col("v_cents")))
            .cast("long").alias("q_treat_cents"),
        )
        .select(
            F.col("p_pct").cast("long").alias("p_pct"),
            "n_ctrl", "n_treat", "q_ctrl_cents", "q_treat_cents",
            (F.col("q_treat_cents") - F.col("q_ctrl_cents"))
            .cast("long").alias("qte_cents"),
        )
        .orderBy("p_pct")
    )


@register(
    "heaps_law_fit",
    """
    WITH toks AS (
        SELECT source, doc_id,
               unnest(string_split(lower(text), ' ')) AS tok
        FROM documents
    ), tk AS (SELECT source, doc_id, tok FROM toks WHERE tok <> ''),
    per_doc AS (
        SELECT source, doc_id, COUNT(*) AS n_toks
        FROM tk GROUP BY source, doc_id
    ), vocab AS (
        SELECT source, tok, MIN(doc_id) AS first_id
        FROM tk GROUP BY source, tok
    ), cuts AS (
        SELECT d.source, c.c,
               d.lo + (d.hi - d.lo) * c.c // 10 AS cut
        FROM (SELECT source, MIN(doc_id) AS lo, MAX(doc_id) AS hi
              FROM documents GROUP BY source) d
        CROSS JOIN generate_series(1, 10) c(c)
    ), n_c AS (
        SELECT p.source, c.c, CAST(SUM(p.n_toks) AS BIGINT) AS n_tokens
        FROM per_doc p JOIN cuts c
          ON c.source = p.source AND p.doc_id <= c.cut
        GROUP BY p.source, c.c
    ), v_c AS (
        SELECT v.source, c.c, CAST(COUNT(*) AS BIGINT) AS vocab
        FROM vocab v JOIN cuts c
          ON c.source = v.source AND v.first_id <= c.cut
        GROUP BY v.source, c.c
    ), pts AS (
        SELECT n.source, n.c, n.n_tokens, v.vocab,
               CAST(FLOOR(ln(CAST(n.n_tokens AS DOUBLE)) * 1000000000)
                    AS BIGINT) AS x,
               CAST(FLOOR(ln(CAST(v.vocab AS DOUBLE)) * 1000000000)
                    AS BIGINT) AS y
        FROM n_c n JOIN v_c v ON v.source = n.source AND v.c = n.c
        WHERE n.n_tokens >= 1 AND v.vocab >= 1
    ), s AS (
        SELECT source, COUNT(*) AS n_points,
               MAX(CASE WHEN c = 10 THEN n_tokens END) AS tokens_final,
               MAX(CASE WHEN c = 10 THEN vocab END) AS vocab_final,
               SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(x AS HUGEINT) * y) AS sxy
        FROM pts GROUP BY source
    )
    SELECT source, CAST(n_points AS BIGINT) AS n_points,
           CAST(tokens_final AS BIGINT) AS tokens_final,
           CAST(vocab_final AS BIGINT) AS vocab_final,
           CAST(FLOOR(
               (CAST(n_points AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n_points AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * 1000000) AS BIGINT) AS heaps_beta_fp6,
           CAST(FLOOR(
               (CAST(sy AS DOUBLE)
                - (CAST(n_points AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n_points AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * CAST(sx AS DOUBLE))
               / CAST(n_points AS DOUBLE) / 1000000000 * 1000000)
               AS BIGINT) AS heaps_lnk_fp6
    FROM s WHERE n_points >= 2
    ORDER BY source
    """,
    ops=["heaps-law", "vocab-growth", "tokenizer-planning"],
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth exponent per source — see
    corpus_stats.heaps_fit: V(n) = K*n^beta fitted on 10 nested
    id-decile checkpoints, answering the tokenizer/vocab-budget
    question "how much NEW vocabulary does the next 10x of corpus
    buy" that zipf_slope (frequency inside a fixed vocabulary) cannot.
    No corpus-sized window anywhere: first-appearance doc ids turn
    cumulative-distinct into group-by math, checkpoints broadcast."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    return corpus_stats.heaps_fit(d).orderBy("source")


@register(
    "orc_roundtrip_report",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_revenue
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    ops=["orc-sink", "orc-source", "columnar-roundtrip"],
)
def orc_roundtrip_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write -> read roundtrip under the oracle gate — the OTHER
    built-in columnar format (the warehouse-interop path next to the
    parquet snapshot sink, sinks/writers.py): orders flow to an ORC
    directory (native vectorized writer) and back, then aggregate; the
    oracle is the direct relational answer on the parquet original, so
    the gate proves ORC round-trips types (decimal revenue survives
    exactly) and rows with zero loss. Scratch: stable per (query, sf),
    overwrite-mode writes — zero leaked dirs across sessions (r12
    VERDICT #2). Scale: both write and read are distributed columnar
    I/O; nothing touches the driver."""
    import os

    from ..scratch import scratch_dir

    e = _t(spark, sf_dir, "orders")
    out = os.path.join(scratch_dir("orc_rt", sf_dir), "orders_orc")
    (
        e.select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(4)
        .write.mode("overwrite")
        .orc(out)
    )
    back = spark.read.orc(out)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC2)).cast("double")
            .alias("total_revenue"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "join_size_estimate_report",
    """
    WITH deg AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS d
        FROM lineitem GROUP BY l_partkey
    ), exact AS (
        SELECT SUM(d * d) AS j FROM deg
    ), est AS (
        SELECT SUM(d * d) * 32 AS j
        FROM deg
        WHERE ('0x' || substr(md5('jse:' || CAST(l_partkey AS VARCHAR)),
                              1, 8))::BIGINT % 32 = 0
    )
    SELECT CAST(exact.j AS BIGINT) AS exact_pairs,
           CAST(est.j AS BIGINT) AS est_pairs,
           CAST(ABS(est.j - exact.j) * 1000 // exact.j AS BIGINT)
               AS rel_err_milli
    FROM exact CROSS JOIN est
    """,
    ops=["join-size-estimation", "distinct-value-sampling", "cbo"],
)
def join_size_estimate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation — the cost-based-optimizer primitive
    that decides broadcast-vs-shuffle before a join runs: the self-join
    size |lineitem x lineitem on partkey| is exactly sum(d_k^2) over key
    degrees, and DISTINCT-VALUE sampling (keep whole keys by md5 bucket,
    scale by the inverse rate — the AGMS/end-biased family) estimates it
    from 1/32 of the degree relation. Sampling KEYS rather than rows is
    the load-bearing choice: row sampling biases d^2 estimates
    quadratically, key sampling keeps each sampled degree intact and is
    unbiased. Report: exact vs estimate vs relative error in milli —
    all from ONE grouped pass over the fact table; the d^2 sum never
    materializes a single joined pair. At 100 TB this is why the
    estimate is affordable when the join itself is not."""
    l = _t(spark, sf_dir, "lineitem")
    deg = l.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    exact = deg.agg(F.sum(F.expr("d * d")).alias("j_exact"))
    keep = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("jse:"),
                               F.col("l_partkey").cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("long") % 32
        == 0
    )
    est = deg.filter(keep).agg(
        (F.sum(F.expr("d * d")) * 32).alias("j_est")
    )
    return exact.crossJoin(est).select(
        F.col("j_exact").cast("long").alias("exact_pairs"),
        F.col("j_est").cast("long").alias("est_pairs"),
        F.expr(
            "CAST(ABS(j_est - j_exact) * 1000 div j_exact AS BIGINT)"
        ).alias("rel_err_milli"),
    )


@register(
    "stratified_uplift_report",
    """
    WITH per_user AS (
        SELECT user_id, user_id % 2 AS arm,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                              AS BIGINT) END), 0) AS BIGINT) AS rev_cents
        FROM events GROUP BY user_id
    ), strat AS (
        SELECT arm, rev_cents,
               CASE WHEN n_events <= 2 THEN 1
                    WHEN n_events <= 5 THEN 2
                    WHEN n_events <= 10 THEN 3
                    ELSE 4 END AS stratum
        FROM per_user
    ), cells AS (
        SELECT stratum,
               CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_ctrl,
               CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_treat,
               CAST(SUM(CASE WHEN arm = 0 THEN rev_cents ELSE 0 END)
                    AS BIGINT) AS rev_ctrl_cents,
               CAST(SUM(CASE WHEN arm = 1 THEN rev_cents ELSE 0 END)
                    AS BIGINT) AS rev_treat_cents
        FROM strat GROUP BY stratum
    )
    SELECT CAST(stratum AS BIGINT) AS stratum, n_ctrl, n_treat,
           rev_ctrl_cents, rev_treat_cents,
           CAST(rev_treat_cents * 1000 // n_treat
                - rev_ctrl_cents * 1000 // n_ctrl AS BIGINT)
               AS uplift_milli_cents,
           CAST((n_ctrl + n_treat) * 1000000
                // SUM(n_ctrl + n_treat) OVER () AS BIGINT)
               AS weight_micro
    FROM cells ORDER BY stratum
    """,
    ops=["stratified-uplift", "post-stratification", "ab-eval"],
)
def stratified_uplift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-stratified uplift — the variance-reduction sibling of CUPED
    (ab_test_cuped): per-user purchase revenue contrasted
    treated-vs-control WITHIN activity strata (fixed n_events bins, so
    strata are deterministic and arm-independent), plus each stratum's
    population weight for the pooled post-stratified ATE
    (sum of weight x uplift). Heavy/light users stop masking each
    other — the mix shift a raw mean diff confounds is held fixed.
    Exact integers: cents, truncating-div milli means, micro weights.
    Scale: one grouped pass to per-user rows, one to the 4-stratum
    cells; the weight window runs over 4 rows."""
    e = _t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.expr(
                        "CAST(CAST(value AS DECIMAL(18,2)) * 100"
                        " AS BIGINT)"
                    ),
                )
            ),
            F.lit(0),
        ).cast("long").alias("rev_cents"),
    )
    strat = per_user.select(
        (F.col("user_id") % 2).alias("arm"),
        "rev_cents",
        F.when(F.col("n_events") <= 2, 1)
        .when(F.col("n_events") <= 5, 2)
        .when(F.col("n_events") <= 10, 3)
        .otherwise(4).alias("stratum"),
    )
    cells = strat.groupBy("stratum").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long")
        .alias("n_ctrl"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long")
        .alias("n_treat"),
        F.sum(F.when(F.col("arm") == 0, F.col("rev_cents")).otherwise(0))
        .cast("long").alias("rev_ctrl_cents"),
        F.sum(F.when(F.col("arm") == 1, F.col("rev_cents")).otherwise(0))
        .cast("long").alias("rev_treat_cents"),
    )
    tot = cells.agg(
        F.sum(F.col("n_ctrl") + F.col("n_treat")).alias("n_all")
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            F.col("stratum").cast("long").alias("stratum"),
            "n_ctrl", "n_treat", "rev_ctrl_cents", "rev_treat_cents",
            F.expr(
                "CAST(rev_treat_cents * 1000 div n_treat"
                " - rev_ctrl_cents * 1000 div n_ctrl AS BIGINT)"
            ).alias("uplift_milli_cents"),
            F.expr(
                "CAST((n_ctrl + n_treat) * 1000000 div n_all AS BIGINT)"
            ).alias("weight_micro"),
        )
        .orderBy("stratum")
    )


# binaryFile-source oracle: the generator's closed pixel form (the
# bmp_feature_report contract, queries/_p07.py) restricted to the
# doc_id % 100 == 0 media subset that goes through the file system.
_BFLUM = (
    "299*((seed*7 + {x}*13 + y*31) % 256)"
    " + 587*((seed*11 + {x}*3 + y*17) % 256)"
    " + 114*((seed*5 + {x}*19 + y*23) % 256)"
)


@register(
    "binary_file_media_ingest",
    f"""
    WITH dims AS (
        SELECT doc_id,
               8 + doc_id % 5 AS w,
               6 + doc_id % 4 AS h,
               doc_id % 97 AS seed
        FROM documents WHERE doc_id % 100 = 0
    ), grid AS (
        SELECT doc_id, w, h,
               {_BFLUM.format(x='x')} AS lum,
               CASE WHEN x < w - 1 THEN {_BFLUM.format(x='(x+1)')}
               END AS lum_next
        FROM dims
        CROSS JOIN (SELECT unnest(range(12)) AS x)
        CROSS JOIN (SELECT unnest(range(9)) AS y)
        WHERE x < w AND y < h
    )
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(54 + ((3*w + 3) // 4) * 4 * h AS BIGINT) AS n_bytes,
           CAST(SUM(lum) // COUNT(*) AS DOUBLE) AS feature_0,
           CAST((COUNT(*) * SUM(lum*lum) - SUM(lum) * SUM(lum))
                // (COUNT(*) * COUNT(*)) AS DOUBLE) AS feature_1,
           CAST(1000 * SUM(CASE WHEN lum_next > lum THEN 1 ELSE 0 END)
                // (h * (w - 1)) AS DOUBLE) AS feature_2
    FROM grid GROUP BY doc_id, w, h
    """,
    ops=["binary-file-source", "multimodal-ingest", "media-files"],
)
def binary_file_media_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media ingestion through Spark's ``binaryFile`` source — the
    missing first hop of a real 100 TB image-curation pipeline, where
    payloads arrive as FILES, not parquet columns: synthesized BMPs
    (doc_id % 100 subset) are written one file per media id by
    executor-side tasks (foreachPartition — no driver collect, the
    same local-FS-standing-in-for-shared-storage contract as the
    jsonl_dir sink), read back via
    ``spark.read.format("binaryFile")`` (media id parsed from the
    file path, bytes from ``content``), REAL-decoded
    (multimodal.decode_bmp24) and featurized. The oracle restates the
    features on the generator's closed pixel form, so a hash match
    proves the whole encode -> file write -> binaryFile scan ->
    decode chain is lossless. Scratch: stable per (query, sf) via
    scratch.scratch_dir — repeated sessions overwrite in place, zero
    leaked dirs (r12 VERDICT #2)."""
    import os

    from ..scratch import scratch_dir

    d = _t(spark, sf_dir, "documents", fanout=True)
    src = d.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("media_id"),
        (8 + F.col("doc_id") % 5).cast("int").alias("width_px"),
        (6 + F.col("doc_id") % 4).cast("int").alias("height_px"),
        (F.col("doc_id") % 97).alias("img_seed"),
    )
    media = multimodal.synthesize_bmp24(src)
    out = scratch_dir("binfile", sf_dir, clean=True)

    def write_part(rows):
        for r in rows:
            with open(os.path.join(out, f"{r.media_id}.bmp"), "wb") as fh:
                fh.write(bytes(r.payload))

    media.select("media_id", "payload").foreachPartition(write_part)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bmp")
        .load(out)
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.bmp$", 1)
            .cast("long").alias("media_id"),
            F.col("content").alias("payload"),
        )
    )
    return multimodal.extract_features(files, fake=False)


@register(
    "nation_trade_cheapest_route",
    """
    WITH w AS MATERIALIZED (
        SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
               COUNT(*) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE s.s_nationkey <> c.c_nationkey
        GROUP BY 1, 2
    ), e AS MATERIALIZED (
        SELECT src, dst, 1000000 // w AS cost FROM w
    ), d0 AS MATERIALIZED (
        SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS cost
    ), d1 AS MATERIALIZED (
        SELECT node, MIN(cost) AS cost FROM (
            SELECT node, cost FROM d0
            UNION ALL
            SELECT e.dst, d0.cost + e.cost FROM e JOIN d0 ON e.src = d0.node
        ) GROUP BY node
    ), d2 AS MATERIALIZED (
        SELECT node, MIN(cost) AS cost FROM (
            SELECT node, cost FROM d1
            UNION ALL
            SELECT e.dst, d1.cost + e.cost FROM e JOIN d1 ON e.src = d1.node
        ) GROUP BY node
    ), d3 AS MATERIALIZED (
        SELECT node, MIN(cost) AS cost FROM (
            SELECT node, cost FROM d2
            UNION ALL
            SELECT e.dst, d2.cost + e.cost FROM e JOIN d2 ON e.src = d2.node
        ) GROUP BY node
    ), d4 AS MATERIALIZED (
        SELECT node, MIN(cost) AS cost FROM (
            SELECT node, cost FROM d3
            UNION ALL
            SELECT e.dst, d3.cost + e.cost FROM e JOIN d3 ON e.src = d3.node
        ) GROUP BY node
    )
    SELECT n.n_name, CAST(COALESCE(d4.cost, -1) AS BIGINT)
               AS route_cost
    FROM nation n LEFT JOIN d4 ON d4.node = n.n_nationkey
    ORDER BY route_cost, n.n_name
    """,
    ops=["shortest-path", "bellman-ford", "iterative-relaxation"],
)
def nation_trade_cheapest_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-leg WEIGHTED shortest path (Bellman-Ford relaxation) —
    the graph primitive hop-count BFS (nation_trade_bfs_hops) can't
    express: edge cost is the inverse trade volume (1e6 div w — busy
    lanes are cheap), and four relaxation rounds from nation 0 compute
    each nation's cheapest route USING AT MOST 4 LEGS (the bounded-leg
    semantics route planners actually ship; both engines run the same
     4 rounds, so the contract is exact, not an approximation
    mismatch). Spark-first: the edge derivation (the expensive part)
    collapses the fact table ONCE to a <=|V|^2 edge relation; each
    round is a frontier-broadcast join + a min-groupBy over node-count
    rows with localCheckpoint pinning the lineage flat — the loop cost
    is bounded by |V| rounds x |E| row joins regardless of fact
    volume. The oracle unrolls the same rounds as nested CTEs."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    e = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.expr("1000000 div COUNT(1)").alias("ecost"))
        .localCheckpoint()
    )
    dist = spark.createDataFrame([(0, 0)], "node long, cost long")
    for _ in range(4):
        relaxed = e.join(
            F.broadcast(dist), e.src == F.col("node")
        ).select(
            F.col("dst").alias("node"),
            (F.col("cost") + F.col("ecost")).alias("cost"),
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("cost").cast("long").alias("cost"))
            .localCheckpoint()
        )
    return (
        nation.join(
            F.broadcast(dist), nation.n_nationkey == F.col("node"), "left"
        )
        .select(
            "n_name",
            F.coalesce(F.col("cost"), F.lit(-1)).cast("long")
            .alias("route_cost"),
        )
        .orderBy("route_cost", "n_name")
    )


@register(
    "raw_text_log_parse",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COALESCE(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                                  AS BIGINT)), 0) AS BIGINT)
               AS value_cents
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    ops=["text-source", "regex-parse", "log-etl"],
)
def raw_text_log_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-text log ETL under the oracle gate — the classic 100 TB
    first mile where data arrives as LOG LINES, not columns: events
    are rendered to a key=value log format, written through the text
    sink, read back with ``spark.read.text`` and re-typed with
    ``regexp_extract`` + ``try_cast`` (the ANSI-safe coercion path),
    then aggregated. The oracle computes the same aggregate on the
    original relation, so a hash match proves render -> text file ->
    scan -> regex parse -> coerce loses nothing (decimals survive via
    the exact DECIMAL(18,2) string form; NULL values render empty and
    coerce back to NULL). Scratch: stable per (query, sf), overwrite
    mode — zero leaked dirs across sessions (r12 VERDICT #2). Both
    write and scan are distributed line I/O; the regex runs in
    whole-stage codegen, not Python."""
    from ..scratch import scratch_dir

    e = _t(spark, sf_dir, "events")
    out = scratch_dir("textlog", sf_dir)
    lines = e.select(
        F.concat(
            F.lit("uid="), F.col("user_id").cast("string"),
            F.lit(" type="), F.col("event_type"),
            F.lit(" val="),
            F.coalesce(
                F.col("value").cast(DEC2).cast("string"), F.lit("")
            ),
        ).alias("value")
    )
    lines.repartition(4).write.mode("overwrite").text(out)
    raw = spark.read.text(out)
    parsed = raw.select(
        F.regexp_extract("value", r" type=(\w+) ", 1).alias("event_type"),
        F.expr(
            r"try_cast(regexp_extract(value, ' val=([0-9.]*)$', 1)"
            " AS DECIMAL(18,2))"
        ).alias("val"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.coalesce(
                F.sum(F.expr("CAST(val * 100 AS BIGINT)")), F.lit(0)
            ).cast("long").alias("value_cents"),
        )
        .orderBy("event_type")
    )


@register(
    "parquet_schema_merge_report",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_price,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 1
                         THEN CAST(o_totalprice AS DECIMAL(18,2))
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               AS priced_revenue
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    ops=["schema-evolution", "parquet-merge-schema", "lake-ops"],
)
def parquet_schema_merge_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution under the oracle gate — the lake-ops reality
    that a long-lived table's early files LACK columns added later:
    batch 1 (even order keys) is written WITHOUT o_totalprice, batch 2
    (odd keys) WITH it; ``spark.read.option("mergeSchema", true)``
    reconciles the two footers into one relation where batch-1 rows
    carry NULL prices. The aggregate counts priced rows and sums only
    the priced revenue, and the oracle recomputes the same from the
    original table — a hash match proves the merged read neither
    drops old-schema rows nor fabricates values for the missing
    column. Scratch: stable per (query, sf), overwrite-mode writes —
    zero leaked dirs across sessions (r12 VERDICT #2); both writes and
    the merged scan are distributed columnar I/O."""
    from ..scratch import scratch_dir

    o = _t(spark, sf_dir, "orders")
    out = scratch_dir("mergeschema", sf_dir)
    b1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus"
    )
    b2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    b1.repartition(2).write.mode("overwrite").parquet(f"{out}/b1")
    b2.repartition(2).write.mode("overwrite").parquet(f"{out}/b2")
    merged = (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{out}/b1", f"{out}/b2")
    )
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(
                F.when(F.col("o_totalprice").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("n_with_price"),
            F.sum(
                F.coalesce(
                    F.col("o_totalprice").cast(DEC2),
                    F.lit(0).cast(DEC2),
                )
            ).cast("double").alias("priced_revenue"),
        )
        .orderBy("o_orderstatus")
    )




@register(
    "knn_beam_search_recall",
    """
    WITH planes AS (
        SELECT p.plane, d.dim,
               CASE WHEN substr(md5(CAST(p.plane AS VARCHAR) || ':'
                                  || CAST(d.dim AS VARCHAR)), 1, 1)
                         IN ('1','3','5','7','9','b','d','f')
                    THEN 1.0 ELSE -1.0 END AS c
        FROM (SELECT unnest(range(12)) AS plane) p,
             (SELECT unnest(range(64)) AS dim) d
    ), proj AS (
        SELECT e.vec_id, p.plane,
               SUM(CAST(e.embedding[CAST(p.dim AS INTEGER) + 1] AS DOUBLE)
                   * p.c) AS s
        FROM embeddings e, planes p
        GROUP BY e.vec_id, p.plane
    ), buck AS (
        SELECT vec_id,
               CAST(SUM(CASE WHEN s > 0
                             THEN 1::BIGINT << CAST(plane AS INTEGER)
                             ELSE 0 END) AS BIGINT) AS b12
        FROM proj GROUP BY vec_id
    ), vecs AS (
        SELECT * FROM (
            SELECT e.vec_id, e.embedding,
                   sqrt(list_sum(list_transform(list_zip(e.embedding, e.embedding), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))) AS norm,
                   b.b12 % 16 AS b4, b.b12 % 256 AS b8, b.b12
            FROM embeddings e JOIN buck b USING (vec_id)
        ) WHERE norm > 0
    ), c4 AS (
        SELECT b4, COUNT(*) AS n4 FROM vecs GROUP BY b4
    ), c8 AS (
        SELECT b8, COUNT(*) AS n8 FROM vecs GROUP BY b8
    ), base AS (
        SELECT v.vec_id, v.embedding, v.norm,
               CASE WHEN c4.n4 <= 64 THEN 0
                    WHEN c8.n8 <= 64 THEN 1 ELSE 2 END AS lvl,
               CASE WHEN c4.n4 <= 64 THEN v.b4
                    WHEN c8.n8 <= 64 THEN v.b8 ELSE v.b12 END AS bkt
        FROM vecs v JOIN c4 USING (b4) JOIN c8 USING (b8)
    ), knn AS (
        SELECT src, dst, cos FROM (
            SELECT a.vec_id AS src, b.vec_id AS dst,
                   list_sum(list_transform(list_zip(a.embedding, b.embedding), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
                     / (a.norm * b.norm) AS cos,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY list_sum(list_transform(list_zip(a.embedding, b.embedding), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
                                  / (a.norm * b.norm) DESC, b.vec_id
                   ) AS rn
            FROM base a JOIN base b
              ON a.vec_id <> b.vec_id AND a.lvl = b.lvl AND a.bkt = b.bkt
        ) WHERE rn <= 8
    ), q AS (
        SELECT embedding AS qv,
               sqrt(list_sum(list_transform(list_zip(embedding, embedding), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))) AS qn
        FROM embeddings WHERE vec_id = 1
    ), sc AS (
        SELECT b.vec_id,
               list_sum(list_transform(list_zip(b.embedding, qv), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))) / (b.norm * qn) AS cosine
        FROM base b, q
    ), v0 AS (
        SELECT vec_id, cosine FROM sc WHERE vec_id < 4
    ), f0 AS (
        SELECT vec_id FROM v0 ORDER BY cosine DESC, vec_id LIMIT 8
    ), c1 AS (
        SELECT DISTINCT k.dst AS vec_id
        FROM knn k JOIN f0 f ON k.src = f.vec_id
        WHERE k.dst NOT IN (SELECT vec_id FROM v0)
    ), v1 AS (
        SELECT * FROM v0
        UNION ALL
        SELECT sc.vec_id, sc.cosine FROM sc JOIN c1 USING (vec_id)
    ), f1 AS (
        SELECT vec_id FROM v1 ORDER BY cosine DESC, vec_id LIMIT 8
    ), c2 AS (
        SELECT DISTINCT k.dst AS vec_id
        FROM knn k JOIN f1 f ON k.src = f.vec_id
        WHERE k.dst NOT IN (SELECT vec_id FROM v1)
    ), v2 AS (
        SELECT * FROM v1
        UNION ALL
        SELECT sc.vec_id, sc.cosine FROM sc JOIN c2 USING (vec_id)
    ), f2 AS (
        SELECT vec_id FROM v2 ORDER BY cosine DESC, vec_id LIMIT 8
    ), c3 AS (
        SELECT DISTINCT k.dst AS vec_id
        FROM knn k JOIN f2 f ON k.src = f.vec_id
        WHERE k.dst NOT IN (SELECT vec_id FROM v2)
    ), v3 AS (
        SELECT * FROM v2
        UNION ALL
        SELECT sc.vec_id, sc.cosine FROM sc JOIN c3 USING (vec_id)
    ), beam AS (
        SELECT vec_id, cosine,
               row_number() OVER (ORDER BY cosine DESC, vec_id) AS rank
        FROM v3 ORDER BY cosine DESC, vec_id LIMIT 10
    ), exact AS (
        SELECT vec_id FROM sc ORDER BY cosine DESC, vec_id LIMIT 10
    )
    SELECT rank, vec_id, cosine,
           vec_id IN (SELECT vec_id FROM exact) AS in_exact_top10
    FROM beam
""",
    ops=["ann-graph-traversal", "similarity-knn-graph", "recall-twin"],
)
def knn_beam_search_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-traversal ANN with a recall twin — the arm that completes
    the operating curve next to IVF/PQ/LSH/int8 (VERDICT r12 ask #8):
    an ADAPTIVE-RESOLUTION SRP-LSH k-NN graph (similarity.
    knn_graph_lsh — oversized coarse buckets descend to finer plane
    prefixes so candidate volume stays ~cap·|V| at any corpus size;
    the fixed-plane first cut measured 47.8x on the 10x decade slice,
    the adaptive build is the fix) is walked by a 3-hop beam-8
    best-first search from the 4 lowest-id seeds toward the vec_id=1
    query (similarity.knn_beam_search — HNSW's flat-world in-layer
    search, expressed as bounded frontier joins). Output: the beam's
    top-10 visited, ranked, each flagged against the EXACT brute-force
    top-10 so the oracle gate pins both the traversal and its recall.

    Scale shape: graph build is the offline |V|·k artifact; search
    cost is hops·beam·k neighbor lookups + frontier-sized scoring
    joins — corpus-independent except the per-hop scoring scan. The
    edge relation is localCheckpointed: every hop consumes it, and it
    carries the round's only corpus-scale shuffle (the staging rule's
    win case). Global windows: rank over the ≤10-row beam slice
    only."""
    e = _t(spark, sf_dir, "embeddings", fanout=True)
    # The graph build (SRP stage → cells → edges, 3 sequential
    # checkpoint jobs) and the corpus scoring relation the beam needs
    # next to it share NO dependency — overlap them from sibling
    # driver threads (guide §2.6) so the scoring chain back-fills the
    # build's scheduling floor instead of queueing behind it. Values
    # identical: both thunks materialize the same deterministic plans
    # the sequential code did.
    knn, sc = overlap(
        lambda: similarity.knn_graph_lsh(e, k=8).localCheckpoint(),
        lambda: similarity.score_corpus_vs_query(
            e, e.filter(F.col("vec_id") == 1)
        ),
    )
    visited = similarity.knn_beam_search(
        e, knn, e.filter(F.col("vec_id") == 1),
        e.filter(F.col("vec_id") < 4), beam=8, hops=3, scored=sc,
    )
    beam10 = (
        visited.orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("cosine").desc(), "vec_id")
            ),
        )
    )
    exact = (
        similarity.cosine_topk_rel(e, e.filter(F.col("vec_id") == 1), k=10)
        .select(F.col("vec_id").alias("_evid"))
    )
    return (
        beam10.join(
            F.broadcast(exact), beam10["vec_id"] == F.col("_evid"), "left"
        )
        .select(
            F.col("rank").cast("long").alias("rank"),
            "vec_id",
            "cosine",
            F.col("_evid").isNotNull().alias("in_exact_top10"),
        )
        .orderBy("rank")
    )




@register(
    "two_stage_rerank_topk",
    """
    WITH vd AS (
        SELECT vec_id, embedding,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), staged AS (
        SELECT vec_id, embedding, v,
               list_max(list_transform(v, x -> abs(x))) AS scale
        FROM vd
    ), quant AS (
        SELECT vec_id, embedding,
               CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
                    ELSE list_transform(v, x -> CAST(floor(x / scale * 127) AS INTEGER))
               END AS codes
        FROM staged
    ), q AS (
        SELECT codes AS qc FROM quant WHERE vec_id = 1
    ), s1 AS (
        SELECT vec_id, embedding,
               CAST(list_sum(list_transform(list_zip(codes, qc), s -> CAST(s[1] AS BIGINT) * CAST(s[2] AS BIGINT))) AS DOUBLE)
                 / (sqrt(CAST(list_sum(list_transform(list_zip(codes, codes), s -> CAST(s[1] AS BIGINT) * CAST(s[2] AS BIGINT))) AS DOUBLE))
                    * sqrt(CAST(list_sum(list_transform(list_zip(qc, qc), s -> CAST(s[1] AS BIGINT) * CAST(s[2] AS BIGINT))) AS DOUBLE))) AS cos_int8
        FROM quant CROSS JOIN q
        WHERE vec_id <> 1 AND list_sum(list_transform(list_zip(codes, codes), s -> CAST(s[1] AS BIGINT) * CAST(s[2] AS BIGINT))) > 0
    ), short AS (
        SELECT vec_id, embedding, cos_int8,
               row_number() OVER (ORDER BY cos_int8 DESC, vec_id) AS stage1_rank
        FROM s1 ORDER BY cos_int8 DESC, vec_id LIMIT 20
    ), qv AS (
        SELECT embedding AS qe,
               sqrt(list_sum(list_transform(list_zip(embedding, embedding), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))) AS qn
        FROM embeddings WHERE vec_id = 1
    ), reranked AS (
        SELECT s.vec_id, s.stage1_rank,
               list_sum(list_transform(list_zip(s.embedding, qe), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(list_zip(s.embedding, s.embedding), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))) * qn) AS cosine
        FROM short s, qv
    )
    SELECT row_number() OVER (ORDER BY cosine DESC, vec_id) AS rank,
           vec_id, cosine, CAST(stage1_rank AS BIGINT) AS stage1_rank
    FROM reranked ORDER BY cosine DESC, vec_id LIMIT 10
""",
    ops=["ann-two-stage-rerank", "ann-int8", "similarity-topk"],
)
def two_stage_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval — the production ANN serving shape (cheap
    recall stage, exact precision stage): stage 1 shortlists the top-20
    neighbors of vec_id=1 on INT8 codes (4x less data per distance,
    integer dots exact <= 2^53 — the ann_int8_topk arm), stage 2
    reranks ONLY the 20 survivors with full-precision double cosine
    and returns the top-10 carrying both ranks, so the oracle gate
    pins the shortlist, the rerank, and every promotion/demotion
    between them (the relational form of a cross-encoder rerank over
    a bi-encoder shortlist). Scale shape: stage 1 is the corpus-wide
    scan (broadcast 1-row query, TakeOrdered(20)); stage 2 touches 20
    rows — rerank cost is shortlist-bounded, corpus-independent.
    Global window: rank over the <=20-row shortlist only."""
    e = _t(spark, sf_dir, "embeddings", fanout=True)
    quant = similarity.quantize_embeddings(e).select("vec_id", "codes")

    q = (
        quant.filter(F.col("vec_id") == 1)
        .select(F.col("codes").alias("qc"))
        .select(
            "qc",
            F.sqrt(
                similarity._idot(F.col("qc"), F.col("qc")).cast("double")
            ).alias("_qn8"),
        )
    )
    s1 = (
        quant.filter(F.col("vec_id") != 1)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "_qn8",
            similarity._idot(F.col("codes"), F.col("codes")).alias("_na2"),
            similarity._idot(F.col("codes"), F.col("qc")).cast("double").alias("_dot"),
        )
        .filter(F.col("_na2") > 0)
        .select(
            "vec_id",
            (F.col("_dot")
             / (F.sqrt(F.col("_na2").cast("double")) * F.col("_qn8"))
             ).alias("cos_int8"),
        )
    )
    short = (
        s1.orderBy(F.col("cos_int8").desc(), "vec_id")
        .limit(20)
        .withColumn(
            "stage1_rank",
            F.row_number().over(
                Window.orderBy(F.col("cos_int8").desc(), "vec_id")
            ).cast("long"),
        )
    )
    qv = (
        e.filter(F.col("vec_id") == 1)
        .select(F.col("embedding").alias("_qe"))
        .select(
            "_qe",
            F.sqrt(similarity._dot(F.col("_qe"), F.col("_qe"))).alias("_qn"),
        )
    )
    v = F.col("embedding")
    reranked = (
        e.join(F.broadcast(short.select("vec_id", "stage1_rank")), "vec_id")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "stage1_rank",
            (similarity._dot(v, F.col("_qe"))
             / (F.sqrt(similarity._dot(v, v)) * F.col("_qn"))).alias("cosine"),
        )
    )
    return (
        reranked.orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
        .select(
            F.row_number().over(
                Window.orderBy(F.col("cosine").desc(), "vec_id")
            ).cast("long").alias("rank"),
            "vec_id", "cosine", "stage1_rank",
        )
        .orderBy("rank")
    )


@register(
    "mde_power_analysis",
    """
    WITH j AS (
        SELECT n.n_name AS nation,
               CAST(o_totalprice AS DECIMAL(18,2)) AS v
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n ON c_nationkey = n.n_nationkey
    ), g AS (
        SELECT nation,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS DOUBLE) AS s,
               CAST(SUM(CAST(v AS DECIMAL(19,2)) * v) AS DOUBLE) AS ss
        FROM j GROUP BY nation
    )
    SELECT nation, n,
           CAST(FLOOR(s / n * 10000) AS BIGINT) AS mean_fp4,
           CAST(FLOOR((ss - s * s / n) / (n - 1) * 100) AS BIGINT) AS var_fp2,
           CAST(FLOOR(CAST(2.801585 AS DOUBLE)
                      * sqrt(CAST(2 AS DOUBLE) * ((ss - s * s / n) / (n - 1)) / n)
                      * 10000) AS BIGINT) AS mde_fp4
    FROM g
    WHERE n > 1
""",
    ops=["stats-power-mde", "A3"],
)
def mde_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation MINIMUM DETECTABLE EFFECT at 80% power / 5% alpha
    for a two-arm order-value test — the experiment-SIZING analytics
    every A/B platform runs before launch (the r12 eval-ops family's
    missing prequel: Welch/CUPED test results, permutation/BH decide,
    this query says what effect a nation's volume can even see):
    mde = (z_{0.975} + z_{0.80}) * sqrt(2 * s^2 / n), with the z-sum
    2.801585 a HOST literal inlined into both engines (the DCG-weight
    pattern — no engine's normal quantile is on the hash path) and
    s^2 from exact DECIMAL sums cast to DOUBLE only for the final
    scalar arithmetic (the anova convention; one operand widened to
    DECIMAL(19,2) for the sf0.1 square-sum range). One grouped scan;
    fixed-point BIGINT outputs."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    j = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            F.col("o_totalprice").cast(DEC2).alias("v"),
        )
    )
    g = j.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("double").alias("s"),
        F.sum(F.col("v").cast("decimal(19,2)") * F.col("v"))
        .cast("double").alias("ss"),
    )
    return g.filter(F.col("n") > 1).select(
        "nation",
        "n",
        F.floor(F.col("s") / F.col("n") * 10000).cast("long")
        .alias("mean_fp4"),
        F.floor(
            (F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
            / (F.col("n") - 1) * 100
        ).cast("long").alias("var_fp2"),
        F.floor(
            F.lit(2.801585).cast("double")
            * F.sqrt(
                F.lit(2).cast("double")
                * ((F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
                   / (F.col("n") - 1))
                / F.col("n")
            )
            * 10000
        ).cast("long").alias("mde_fp4"),
    )


@register(
    "nation_trade_hits",
    """
    WITH edges AS MATERIALIZED (
        SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE s.s_nationkey <> c.c_nationkey
        GROUP BY 1, 2

    ), nodes AS MATERIALIZED (
        SELECT n_nationkey AS node, n_name FROM nation
    ), h0 AS MATERIALIZED (
        SELECT node, CAST(1000 AS BIGINT) AS hub FROM nodes
    ), a1_raw AS MATERIALIZED (
        SELECT n.node, COALESCE(SUM(e.w * h0.hub), 0) AS raw
        FROM nodes n
        LEFT JOIN edges e ON e.dst = n.node
        LEFT JOIN h0 ON h0.node = e.src
        GROUP BY n.node
    ), a1 AS MATERIALIZED (
        SELECT node, CAST(raw * 1000 // (SELECT MAX(raw) FROM a1_raw) AS BIGINT) AS auth
        FROM a1_raw
    ), h1_raw AS MATERIALIZED (
        SELECT n.node, COALESCE(SUM(e.w * a1.auth), 0) AS raw
        FROM nodes n
        LEFT JOIN edges e ON e.src = n.node
        LEFT JOIN a1 ON a1.node = e.dst
        GROUP BY n.node
    ), h1 AS MATERIALIZED (
        SELECT node, CAST(raw * 1000 // (SELECT MAX(raw) FROM h1_raw) AS BIGINT) AS hub
        FROM h1_raw
    ), a2_raw AS MATERIALIZED (
        SELECT n.node, COALESCE(SUM(e.w * h1.hub), 0) AS raw
        FROM nodes n
        LEFT JOIN edges e ON e.dst = n.node
        LEFT JOIN h1 ON h1.node = e.src
        GROUP BY n.node
    ), a2 AS MATERIALIZED (
        SELECT node, CAST(raw * 1000 // (SELECT MAX(raw) FROM a2_raw) AS BIGINT) AS auth
        FROM a2_raw
    ), h2_raw AS MATERIALIZED (
        SELECT n.node, COALESCE(SUM(e.w * a2.auth), 0) AS raw
        FROM nodes n
        LEFT JOIN edges e ON e.src = n.node
        LEFT JOIN a2 ON a2.node = e.dst
        GROUP BY n.node
    ), h2 AS MATERIALIZED (
        SELECT node, CAST(raw * 1000 // (SELECT MAX(raw) FROM h2_raw) AS BIGINT) AS hub
        FROM h2_raw
    ), a3_raw AS MATERIALIZED (
        SELECT n.node, COALESCE(SUM(e.w * h2.hub), 0) AS raw
        FROM nodes n
        LEFT JOIN edges e ON e.dst = n.node
        LEFT JOIN h2 ON h2.node = e.src
        GROUP BY n.node
    ), a3 AS MATERIALIZED (
        SELECT node, CAST(raw * 1000 // (SELECT MAX(raw) FROM a3_raw) AS BIGINT) AS auth
        FROM a3_raw
    ), h3_raw AS MATERIALIZED (
        SELECT n.node, COALESCE(SUM(e.w * a3.auth), 0) AS raw
        FROM nodes n
        LEFT JOIN edges e ON e.src = n.node
        LEFT JOIN a3 ON a3.node = e.dst
        GROUP BY n.node
    ), h3 AS MATERIALIZED (
        SELECT node, CAST(raw * 1000 // (SELECT MAX(raw) FROM h3_raw) AS BIGINT) AS hub
        FROM h3_raw
    )
    SELECT CAST(n.node AS BIGINT) AS nationkey, n.n_name AS nation,
           h3.hub AS hub_milli, a3.auth AS auth_milli
    FROM nodes n
    JOIN h3 ON h3.node = n.node
    JOIN a3 ON a3.node = n.node
""",
    ops=["graph-hits", "graph-iterative"],
)
def nation_trade_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over the weighted
    nation-trade graph — the directed-centrality twin to PageRank the
    graph family lacked: 3 mutual-reinforcement rounds (authority =
    weighted sum of in-neighbor hubs, hub = weighted sum of
    out-neighbor authorities), each normalized to max=1000 by EXACT
    integer division so every score is a cross-engine BIGINT (no float
    normalization on the hash path). The edge relation is derived once
    from the four-table fact join and localCheckpointed — every round
    consumes it twice, the LPA no-op-cache lesson — and each round's
    score relation is <=|V| rows, localCheckpointed because the next
    round references it per arm. Scale: the corpus-sized work is the
    ONE edge derivation; iterations join |V|-row relations."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    edges = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint()
    )
    nodes = nat.select(
        F.col("n_nationkey").cast("long").alias("node"), "n_name"
    )
    h = nodes.select("node", F.lit(1000).cast("long").alias("hub"))
    a = None
    for _ in range(3):
        a_raw = (
            nodes.select("node")
            .join(edges, F.col("dst") == F.col("node"), "left")
            .join(h.select(F.col("node").alias("_sn"),
                           F.col("hub").alias("_sh")),
                  F.col("src") == F.col("_sn"), "left")
            .groupBy("node")
            .agg(F.coalesce(F.sum(F.col("w") * F.col("_sh")), F.lit(0))
                 .cast("long").alias("raw"))
        )
        amax = a_raw.agg(F.max("raw").alias("_m"))
        a = (
            a_raw.crossJoin(F.broadcast(amax))
            .select("node", F.expr("raw * 1000 div _m").alias("auth"))
            .localCheckpoint()
        )
        h_raw = (
            nodes.select("node")
            .join(edges, F.col("src") == F.col("node"), "left")
            .join(a.select(F.col("node").alias("_dn"),
                           F.col("auth").alias("_da")),
                  F.col("dst") == F.col("_dn"), "left")
            .groupBy("node")
            .agg(F.coalesce(F.sum(F.col("w") * F.col("_da")), F.lit(0))
                 .cast("long").alias("raw"))
        )
        hmax = h_raw.agg(F.max("raw").alias("_m"))
        h = (
            h_raw.crossJoin(F.broadcast(hmax))
            .select("node", F.expr("raw * 1000 div _m").alias("hub"))
            .localCheckpoint()
        )
    return (
        nodes.join(h, "node").join(a, "node")
        .select(
            F.col("node").alias("nationkey"),
            F.col("n_name").alias("nation"),
            F.col("hub").alias("hub_milli"),
            F.col("auth").alias("auth_milli"),
        )
    )


__all__ = [n for n in globals() if not n.startswith("__")]
