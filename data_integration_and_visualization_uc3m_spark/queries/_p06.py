"""Query registry — part 6/8 of the mechanical queries.py split.

Contiguous slice of the original module; see queries/_core.py for
the chaining scheme. Do not reorder across parts — registration
order is the driver-window rotation order.
"""

from __future__ import annotations

from ._p05 import *  # noqa: F401,F403



@register(
    "ab_test_welch",
    f"""
    WITH g AS (
        SELECT event_type,
               CASE WHEN CAST(('0x'||substring(md5('ab1:'||CAST(user_id AS VARCHAR)),1,8))
                         AS BIGINT) < {1 << 31} THEN 'A' ELSE 'B' END AS grp,
               CAST(value AS DECIMAL(18,2)) AS v
        FROM events
    ), m AS (
        SELECT event_type, grp, COUNT(*) AS n,
               SUM(v) AS s, SUM(v * v) AS ss
        FROM g GROUP BY event_type, grp
    ), ab AS (
        SELECT a.event_type AS event_type,
               a.n AS n_a, b.n AS n_b,
               CAST(a.s AS DOUBLE) AS sa, CAST(b.s AS DOUBLE) AS sb,
               CAST(a.ss AS DOUBLE) AS ssa, CAST(b.ss AS DOUBLE) AS ssb
        FROM m a JOIN m b ON a.event_type = b.event_type
        WHERE a.grp = 'A' AND b.grp = 'B' AND a.n > 1 AND b.n > 1
    ), se AS (
        SELECT event_type, n_a, n_b, sa, sb,
               (n_a * ssa - sa * sa) / (CAST(n_a AS DOUBLE) * (n_a - 1)) / n_a
                 + (n_b * ssb - sb * sb) / (CAST(n_b AS DOUBLE) * (n_b - 1)) / n_b
                 AS se2
        FROM ab
    )
    SELECT event_type, n_a, n_b,
           CAST(FLOOR(sa / n_a * 1000000) AS BIGINT) AS mean_a_fp6,
           CAST(FLOOR(sb / n_b * 1000000) AS BIGINT) AS mean_b_fp6,
           CASE WHEN se2 > 0 THEN
               CAST(FLOOR((sa / n_a - sb / n_b) / sqrt(se2) * 10000)
                    AS BIGINT) END AS t_fp4
    FROM se
    """,
    ops=["stats-abtest-welch", "sampling-hash", "A3"],
)
def ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation readout: deterministic 50/50 hash assignment of
    USERS to arms (join-closed, the same md5-bucket primitive as the
    samplers), then per-event-type Welch's t on the value column —
    entirely from exact DECIMAL moment sums (n, Σv, Σv²), so the only
    float work is one fixed-order expression per group. Map-side
    assignment, one moment aggregation, a 25-row self-join; nothing
    here grows with data beyond the single shuffle."""
    from ..operators.sampling import hash_bucket

    e = _t(spark, sf_dir, "events")
    v = F.col("value").cast(DEC2)
    g = e.select(
        "event_type",
        F.when(
            hash_bucket(F.col("user_id"), "ab1") < F.lit(1 << 31), "A"
        ).otherwise("B").alias("grp"),
        v.alias("v"),
    )
    m = g.groupBy("event_type", "grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("ss"),
    )
    def side(tag):
        return m.filter((F.col("grp") == tag) & (F.col("n") > 1)).select(
            "event_type",
            F.col("n").alias(f"n_{tag.lower()}"),
            F.col("s").cast("double").alias(f"s{tag.lower()}"),
            F.col("ss").cast("double").alias(f"ss{tag.lower()}"),
        )
    ab = side("A").join(side("B"), "event_type")
    na, nb = F.col("n_a"), F.col("n_b")
    sa, sb = F.col("sa"), F.col("sb")
    ssa, ssb = F.col("ssa"), F.col("ssb")
    se2 = (na * ssa - sa * sa) / (na.cast("double") * (na - F.lit(1))) / na + (
        nb * ssb - sb * sb
    ) / (nb.cast("double") * (nb - F.lit(1))) / nb
    withse = ab.select("event_type", "n_a", "n_b", "sa", "sb", se2.alias("se2"))
    return withse.select(
        "event_type",
        "n_a",
        "n_b",
        F.floor(sa / na * F.lit(1e6)).cast("long").alias("mean_a_fp6"),
        F.floor(sb / nb * F.lit(1e6)).cast("long").alias("mean_b_fp6"),
        F.when(
            F.col("se2") > 0,
            F.floor(
                (sa / na - sb / nb) / F.sqrt(F.col("se2")) * F.lit(1e4)
            ).cast("long"),
        ).alias("t_fp4"),
    )


@register(
    "rolling_corr_nation_global",
    """
    WITH daily AS (
        SELECT n_name, CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DECIMAL(18,2)) AS rn
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name, day
    ), gtot AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DECIMAL(18,2)) AS rg
        FROM orders GROUP BY day
    ), j AS (
        SELECT d.n_name, d.day, d.rn, g.rg FROM daily d JOIN gtot g USING (day)
    ), w AS (
        SELECT n_name, day,
               COUNT(*) OVER w AS n_win,
               SUM(rn) OVER w AS sx, SUM(rg) OVER w AS sy,
               -- widen one operand: DuckDB multiplies DECIMAL(18)x(18)
               -- in int64 and overflows on sf0.1 magnitudes; 19+18=37
               -- digits routes through hugeint (Spark widens natively)
               SUM(CAST(rn AS DECIMAL(19,2)) * rn) OVER w AS sxx,
               SUM(CAST(rg AS DECIMAL(19,2)) * rg) OVER w AS syy,
               SUM(CAST(rn AS DECIMAL(19,2)) * rg) OVER w AS sxy
        FROM j
        WINDOW w AS (PARTITION BY n_name ORDER BY day
                     ROWS BETWEEN 27 PRECEDING AND CURRENT ROW)
    )
    SELECT n_name, day, n_win,
           CASE WHEN n_win = 28
                 AND CAST(n_win AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                 AND CAST(n_win AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
           THEN CAST(FLOOR(
               (CAST(n_win AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (sqrt(CAST(n_win AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * sqrt(CAST(n_win AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               * 1000000) AS BIGINT) END AS corr_fp6
    FROM w
    """,
    ops=["stats-corr-rolling", "window-rolling", "A3"],
)
def rolling_corr_nation_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 28-observation Pearson correlation between each
    nation's daily revenue and the global daily total — the co-drift
    signal behind 'is this market moving with the book or on its
    own'. All five joint moments are exact DECIMAL window sums over a
    ROWS frame (order-free, engine-identical); the correlation is one
    fixed-order double expression per row, floored to fp6, NULL until
    the frame is full (a 2-point window's corr is EXACTLY ±1 — the one
    fp6 value sitting on a floor boundary, where the engines' lossy
    decimal→double rounding of the big moment sums can legitimately
    differ by 1 ulp and flip the floor) or while a variance is
    degenerate. One shuffle on nation for the windows; the day-level
    global series joins broadcast."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    daily = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(_dec2("o_totalprice")).cast(DEC2).alias("rn"))
    )
    glob = (
        o.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(_dec2("o_totalprice")).cast(DEC2).alias("rg"))
    )
    j = daily.join(F.broadcast(glob), "day")
    w = (
        Window.partitionBy("n_name")
        .orderBy("day")
        .rowsBetween(-27, Window.currentRow)
    )
    rn, rg = F.col("rn"), F.col("rg")
    ww = j.select(
        "n_name",
        "day",
        F.count(F.lit(1)).over(w).alias("n_win"),
        F.sum(rn).over(w).alias("sx"),
        F.sum(rg).over(w).alias("sy"),
        F.sum(rn * rn).over(w).alias("sxx"),
        F.sum(rg * rg).over(w).alias("syy"),
        F.sum(rn * rg).over(w).alias("sxy"),
    )
    nd = F.col("n_win").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    vx = nd * sxx - sx * sx
    vy = nd * syy - sy * sy
    return ww.select(
        "n_name",
        "day",
        "n_win",
        F.when(
            (F.col("n_win") == 28) & (vx > 0) & (vy > 0),
            F.floor(
                (nd * sxy - sx * sy)
                / (F.sqrt(vx) * F.sqrt(vy))
                * F.lit(1e6)
            ).cast("long"),
        ).alias("corr_fp6"),
    )


@register(
    "column_histogram_orders",
    """
    WITH v AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS x
        FROM orders
    ), b AS (
        SELECT MIN(x) AS lo, MAX(x) AS hi FROM v
    )
    SELECT LEAST(CAST(FLOOR((x - lo) / ((hi - lo) / 10)) AS INTEGER), 9)
             AS bin,
           COUNT(*) AS n_rows,
           MIN(x) AS bin_min,
           MAX(x) AS bin_max
    FROM v, b GROUP BY 1
    """,
    ops=["analyze-histogram", "column-stats", "A3"],
)
def column_histogram_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style equi-width histogram (10 bins) of order value —
    the column statistic a cost-based optimizer consumes. Two-pass:
    1-row min/max broadcast, then a map-side bin expression + one
    aggregation. The top edge clamps into the last bin."""
    o = _t(spark, sf_dir, "orders")
    v = o.select(_dec2("o_totalprice").cast("double").alias("x"))
    b = v.agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    binc = F.least(
        F.floor((F.col("x") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / 10))
        .cast("int"),
        F.lit(9),
    )
    return (
        v.crossJoin(F.broadcast(b))
        .groupBy(binc.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("bin_min"),
            F.max("x").alias("bin_max"),
        )
    )


_FP_SQL = """
        SELECT o_orderkey % 16 AS bucket,
               COUNT(*) AS n_rows,
               CAST(SUM(CAST(('0x'||substr(md5(
                       CAST(o_orderkey AS VARCHAR) || '|' ||
                       COALESCE(o_orderstatus, '') || '|' ||
                       CAST({price} AS VARCHAR) || '|' ||
                       CAST(o_orderdate AS VARCHAR)
                   ),1,15)) AS BIGINT))
                    % 4611686018427387904 AS BIGINT) AS checksum
        FROM orders GROUP BY 1
"""


@register(
    "fingerprint_diff_report",
    f"""
    WITH fa AS (
        {_FP_SQL.format(price="CAST(o_totalprice AS DECIMAL(18,2))")}
    ), fb AS (
        {_FP_SQL.format(
            price="CASE WHEN o_orderkey % 1000 = 7 "
            "THEN CAST(o_totalprice AS DECIMAL(18,2)) + 1 "
            "ELSE CAST(o_totalprice AS DECIMAL(18,2)) END"
        )}
    )
    SELECT fa.bucket,
           fa.n_rows AS n_rows_a, fa.checksum AS checksum_a,
           fb.n_rows AS n_rows_b, fb.checksum AS checksum_b,
           fa.checksum = fb.checksum AS match
    FROM fa JOIN fb ON fb.bucket = fa.bucket
    """,
    ops=["anti-entropy", "fingerprint-diff", "A3"],
)
def fingerprint_diff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy reconciliation in action: bucketed checksums of a
    replica and a deterministically-corrupted copy (keys ≡ 7 mod 1000
    carry a +1 price drift) compared bucket-by-bucket — mismatched
    buckets localize the corruption to 1/16 of the key space before
    any row-level diff runs. Same overflow-proof decimal-sum checksum
    as table_fingerprint_orders."""
    o = _t(spark, sf_dir, "orders")

    def fingerprint(price_col):
        row_repr = F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.coalesce(F.col("o_orderstatus"), F.lit("")),
            price_col.cast("string"),
            F.col("o_orderdate").cast("string"),
        )
        rh = F.conv(F.substring(F.md5(row_repr), 1, 15), 16, 10).cast("long")
        return (
            o.select(rh.alias("rh"), (F.col("o_orderkey") % 16).alias("bucket"))
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                (F.sum(F.col("rh").cast(DEC38)) % F.lit(4611686018427387904))
                .cast("long")
                .alias("checksum"),
            )
        )

    fa = fingerprint(_dec2("o_totalprice"))
    fb = fingerprint(
        F.when(
            F.col("o_orderkey") % 1000 == 7, _dec2("o_totalprice") + F.lit(1)
        ).otherwise(_dec2("o_totalprice"))
    )
    a = fa.select(
        "bucket",
        F.col("n_rows").alias("n_rows_a"),
        F.col("checksum").alias("checksum_a"),
    )
    bb = fb.select(
        "bucket",
        F.col("n_rows").alias("n_rows_b"),
        F.col("checksum").alias("checksum_b"),
    )
    return a.join(bb, "bucket").select(
        "bucket",
        "n_rows_a",
        "checksum_a",
        "n_rows_b",
        "checksum_b",
        (F.col("checksum_a") == F.col("checksum_b")).alias("match"),
    )


@register(
    "corpus_build_v2_e2e",
    """
    WITH capped AS (
        SELECT doc_id, source, text FROM (
            SELECT doc_id, source, text,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY CAST(('0x'||substring(
                                   md5('cap:'||CAST(doc_id AS VARCHAR)),1,8))
                                AS BIGINT),
                                doc_id) AS rk
            FROM documents) WHERE rk <= 20
    ), feat AS (
        SELECT doc_id, source,
               len(string_split(lower(text), ' ')) AS n_tokens,
               CAST(len(list_distinct(string_split(lower(text), ' ')))
                    AS DOUBLE)
                 / len(string_split(lower(text), ' ')) AS ttr,
               CAST(len(list_filter(string_split(lower(text), ' '),
                    x -> x IN ('the','and','of','to','in','is','a','that')))
                    AS DOUBLE)
                 / len(string_split(lower(text), ' ')) AS sr,
               CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_tokens
        FROM capped
    ), z AS (
        SELECT doc_id, source, bpe_tokens,
               CAST(-0.8 AS DOUBLE) + CAST(1.2 AS DOUBLE) * ttr
                 + CAST(2.0 AS DOUBLE) * sr
                 + CAST(0.002 AS DOUBLE) * n_tokens AS z
        FROM feat
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(bpe_tokens) AS BIGINT) AS sum_tokens,
           CAST(SUM(CAST(FLOOR(z / (1 + abs(z)) * 1000000) AS BIGINT))
                AS BIGINT) AS sum_score_fp6
    FROM z
    WHERE z / (1 + abs(z)) >= 0.25
    GROUP BY source
    """,
    ops=["corpus-build-e2e", "frequency-cap", "model-quality-filter"],
)
def corpus_build_v2_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus build v2, composing this round's curation operators in
    ONE lazy plan: per-source frequency cap (WindowGroupLimit) →
    frozen-weight classifier gate (rational sigmoid) → per-source
    token/score budget stats. No intermediate materialization — the
    whole chain is one Catalyst plan, exactly how a 100 TB build
    would submit it."""
    d = _t(spark, sf_dir, "documents")
    capped = sampling.quota_per_group(d, "source", 20, "doc_id", seed="cap")
    toks = F.split(F.lower(F.col("text")), " ")
    n_tokens = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    sr = (
        F.size(
            F.filter(
                toks,
                lambda t: t.isin(
                    "the", "and", "of", "to", "in", "is", "a", "that"
                ),
            )
        ).cast("double")
        / n_tokens
    )
    z = (
        F.lit(-0.8)
        + F.lit(1.2) * ttr
        + F.lit(2.0) * sr
        + F.lit(0.002) * n_tokens
    )
    scored = capped.select(
        "doc_id",
        "source",
        F.ceil(F.length("text") / F.lit(4.0)).cast("long").alias("bpe_tokens"),
        (z / (F.lit(1) + F.abs(z))).alias("score"),
    )
    return (
        scored.filter(F.col("score") >= F.lit(0.25))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("bpe_tokens").alias("sum_tokens"),
            F.sum(F.floor(F.col("score") * 1000000).cast("long")).alias(
                "sum_score_fp6"
            ),
        )
    )


@register(
    "dsir_selection_report",
    """
    WITH w AS (
        SELECT doc_id, source,
               list_filter(string_split(lower(text), ' '), x -> x <> '')
                 AS words
        FROM documents
    ), bge AS (
        SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM (
            SELECT doc_id, unnest(list_transform(
                       range(0, len(words) - 1),
                       i -> struct_pack(w1 := words[i+1], w2 := words[i+2])
                   )) AS p
            FROM w WHERE len(words) >= 2)
    ), pd AS (
        SELECT doc_id, w1, w2, COUNT(*) AS m FROM bge GROUP BY doc_id, w1, w2
    ), raw_pc AS (
        SELECT w1, w2, SUM(m) AS c2 FROM pd GROUP BY w1, w2
    ), raw_wc AS (
        SELECT w1, SUM(c2) AS c1 FROM raw_pc GROUP BY w1
    ), tgt AS (
        SELECT doc_id FROM w WHERE source = 'src0'
    ), tgt_pc AS (
        SELECT w1, w2, SUM(m) AS t2
        FROM pd WHERE doc_id IN (SELECT doc_id FROM tgt)
        GROUP BY w1, w2
    ), tgt_wc AS (
        SELECT w1, SUM(t2) AS t1 FROM tgt_pc GROUP BY w1
    ), sc AS (
        SELECT pd.doc_id, pd.m,
               CAST(FLOOR((ln(CAST(tp.t2 AS DOUBLE))
                           - ln(CAST(tw.t1 AS DOUBLE))) * 1000000000)
                    AS BIGINT)
               - CAST(FLOOR((ln(CAST(rp.c2 AS DOUBLE))
                             - ln(CAST(rw.c1 AS DOUBLE))) * 1000000000)
                      AS BIGINT) AS d
        FROM pd
        JOIN tgt_pc tp ON tp.w1 = pd.w1 AND tp.w2 = pd.w2
        JOIN tgt_wc tw ON tw.w1 = pd.w1
        JOIN raw_pc rp ON rp.w1 = pd.w1 AND rp.w2 = pd.w2
        JOIN raw_wc rw ON rw.w1 = pd.w1
    )
    SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_scored_bigrams,
           CAST(SUM(m * d) AS BIGINT) AS diff_fp9
    FROM sc GROUP BY doc_id
    """,
    ops=["dsir-selection", "text-lm-score", "importance-resampling"],
)
def dsir_selection_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scores with src0 as the target domain
    (operators/corpus_stats.py:dsir_score): per document, the exact
    fixed-point Σ m·(ln P_target − ln P_raw) over target-supported
    bigrams — positive means more src0-like than the corpus average;
    resample by this score to build a domain-matched training set."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    return corpus_stats.dsir_score(d, F.col("source") == "src0")


@register(
    "user_feature_store",
    """
    WITH per AS (
        SELECT user_id, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                 AS total_value,
               CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_us,
               CAST(MIN(epoch_us(ts)) AS BIGINT) AS first_us
        FROM events GROUP BY user_id
    ), fav AS (
        SELECT user_id, event_type AS fav_type FROM (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY COUNT(*) DESC, event_type)
                     AS rn
            FROM events GROUP BY user_id, event_type) WHERE rn = 1
    ), t AS (
        SELECT CAST(MAX(epoch_us(ts)) AS BIGINT) AS tmax_us FROM events
    )
    SELECT p.user_id, p.n_events, p.total_value,
           CAST(t.tmax_us - p.last_us AS BIGINT) AS recency_us,
           CAST(p.last_us - p.first_us AS BIGINT) AS span_us,
           f.fav_type
    FROM per p JOIN fav f ON f.user_id = p.user_id CROSS JOIN t
    """,
    ops=["feature-store", "A3", "window"],
)
def user_feature_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-engineering wide table (the churn/LTV feature-store
    shape): per user, activity counts, exact DECIMAL value totals,
    recency/tenure in exact epoch-microseconds, and the modal event
    type with a deterministic tiebreak — one aggregation, one
    grouped-mode window, a 1-row corpus-max broadcast."""
    e = _t(spark, sf_dir, "events")
    per = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(DEC6)).cast("double").alias("total_value"),
        F.max(F.unix_micros("ts")).alias("last_us"),
        F.min(F.unix_micros("ts")).alias("first_us"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("cnt").desc(), F.col("event_type")
    )
    fav = (
        e.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("fav_type"))
    )
    t = e.agg(F.max(F.unix_micros("ts")).alias("tmax_us"))
    return (
        per.join(fav, "user_id")
        .crossJoin(F.broadcast(t))
        .select(
            "user_id",
            "n_events",
            "total_value",
            (F.col("tmax_us") - F.col("last_us")).alias("recency_us"),
            (F.col("last_us") - F.col("first_us")).alias("span_us"),
            "fav_type",
        )
    )


@register(
    "contrastive_pairs_dataset",
    f"""
    WITH {_SHINGLES_CTE}, sizes AS (
        SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY id_a, id_b
    ), pos AS (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_common AS DOUBLE)
                / (sa.set_size + sb.set_size - n_common) >= 0.5
    ), bk AS (
        SELECT doc_id,
               CAST(('0x'||substring(
                   md5('cp:'||CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 8
                 AS bucket
        FROM documents
    ), neg AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        WHERE CAST(('0x'||substring(md5(
                  'cp:'||CAST(a.doc_id AS VARCHAR)||':'
                  ||CAST(b.doc_id AS VARCHAR)),1,8)) AS BIGINT)
              < CAST(FLOOR(0.02 * 4294967296) AS BIGINT)
          AND NOT EXISTS (SELECT 1 FROM pos p
                          WHERE p.id_a = a.doc_id AND p.id_b = b.doc_id)
    )
    SELECT id_a, id_b, CAST(1 AS INTEGER) AS label FROM pos
    UNION ALL
    SELECT id_a, id_b, CAST(0 AS INTEGER) AS label FROM neg
    """,
    ops=["contrastive-pairs", "dedup-jaccard", "hash-sample"],
)
def contrastive_pairs_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pair dataset builder for a similarity model: positives
    are verified near-dup pairs (3-gram Jaccard ≥ 0.5), negatives a
    deterministic 2% hash sample of bucket-blocked non-dup pairs; the
    md5 pair draw makes the dataset reproducible and the anti-join
    guarantees label purity. SCALE KNOB: negative candidate volume is
    Σ block² · rate, so the bucket count must grow with the corpus
    (n_buckets ≈ n / target_block_size keeps blocks bounded — 8 is
    sized for the testdata; at 10⁹ docs you'd use ~10⁵ buckets and
    the same rate arithmetic)."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    # localCheckpoint: pos feeds BOTH union arms (the positive labels
    # and the negatives' label-purity anti-join) and Spark does no CSE
    # across them — unstaged, the heavy shingle self-join ran twice
    # (measured 2.71 → 1.81 s median at sf0.1, r12 attribution).
    pos = dedup.jaccard_pairs(
        dedup.ngram_set(d, n=3), item_col="shingle", threshold=0.5
    ).select("id_a", "id_b").localCheckpoint()
    bk = d.select(
        "doc_id", (sampling.hash_bucket(F.col("doc_id"), "cp") % 8).alias("bucket")
    )
    a = bk.select(F.col("doc_id").alias("id_a"), "bucket")
    b = bk.select(F.col("doc_id").alias("id_b"), "bucket")
    draw = sampling.hash_bucket(
        F.concat_ws(
            ":", F.col("id_a").cast("string"), F.col("id_b").cast("string")
        ),
        "cp",
    )
    neg = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(draw < F.lit(int(0.02 * sampling.HASH_SPACE)))
        .join(pos, ["id_a", "id_b"], "left_anti")
        .select("id_a", "id_b")
    )
    return pos.select(
        "id_a", "id_b", F.lit(1).alias("label")
    ).unionByName(neg.select("id_a", "id_b", F.lit(0).alias("label")))


@register(
    "late_arrival_audit",
    """
    WITH seq AS (
        SELECT user_id, epoch_us(ts) AS ts_us,
               MAX(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS wm_us
        FROM events
    )
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN wm_us IS NOT NULL
                          AND ts_us < wm_us - 1800000000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_late_30m
    FROM seq GROUP BY user_id
    """,
    ops=["watermark-audit", "window-offset", "streaming-policy"],
)
def late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline watermark-policy evaluation: replay each user's events
    in arrival order (event_id as the arrival proxy) against a 30-min
    per-key watermark — the rows a streaming job WOULD have dropped,
    measured before committing to the delay. Exact epoch-microsecond
    integers; the running max is a partitioned preceding-frame window,
    no global sort."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = e.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.max(F.unix_micros("ts")).over(w).alias("wm_us"),
    )
    late = (
        F.col("wm_us").isNotNull()
        & (F.col("ts_us") < F.col("wm_us") - F.lit(1800000000))
    )
    return seq.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(late, 1).otherwise(0)).cast("long").alias("n_late_30m"),
    )


@register(
    "temperature_mixing_plan",
    """
    WITH t AS (
        SELECT source, CAST(ceil(length(text) / 4.0) AS BIGINT) AS tokens
        FROM documents
    ), c AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(tokens) AS BIGINT) AS avail_tokens
        FROM t GROUP BY source
    ), wgt AS (
        SELECT source, n_docs, avail_tokens,
               CAST(FLOOR(sqrt(CAST(avail_tokens AS DOUBLE)) * 1000000000)
                    AS BIGINT) AS w_fp9
        FROM c
    ), norm AS (
        SELECT CAST(SUM(w_fp9) AS BIGINT) AS w_total FROM wgt
    )
    SELECT source, n_docs, avail_tokens, w_fp9,
           CAST(FLOOR(CAST(100000 AS DOUBLE)
                      * (CAST(w_fp9 AS DOUBLE) / w_total)) AS BIGINT)
             AS target_tokens,
           CAST(w_fp9 AS DOUBLE) / w_total AS share
    FROM wgt, norm
    """,
    ops=["temperature-mixing", "corpus-mixing", "A3"],
)
def temperature_mixing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax-style α=0.5 temperature mixing over all sources
    (operators/mixing.py:temperature_plan): √-damped shares of a
    100k-token budget — head sources give up budget to the tail,
    no hand weights."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.ceil(F.length("text") / F.lit(4.0)).cast("long").alias("tokens"),
    )
    return mixing.temperature_plan(toks, token_budget=100000)


def _k_core_oracle(k: int = 11, rounds: int = 6) -> str:
    """Unrolled fixed-round k-core peeling as chained MATERIALIZED
    CTEs (without MATERIALIZED DuckDB inlines each round's CTE into
    the next — 3^rounds copies of the 4-table edge build). The Spark
    twin runs the identical unroll as one lazy plan."""
    ctes = ["""raw AS MATERIALIZED (
        SELECT least(s.s_nationkey, c.c_nationkey) AS lo,
               greatest(s.s_nationkey, c.c_nationkey) AS hi,
               o.o_orderkey AS ok
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE s.s_nationkey <> c.c_nationkey
    ), wpairs AS MATERIALIZED (
        SELECT lo, hi, COUNT(DISTINCT ok) AS cnt FROM raw GROUP BY lo, hi
    ), med AS (
        SELECT quantile_cont(CAST(cnt AS DOUBLE), 0.5) AS m FROM wpairs
    ), e0 AS MATERIALIZED (
        SELECT lo, hi FROM wpairs, med WHERE CAST(cnt AS DOUBLE) >= m
    )"""]
    for r in range(1, rounds + 1):
        p = f"e{r-1}"
        ctes.append(f"""d{r} AS MATERIALIZED (
        SELECT node, COUNT(*) AS deg FROM (
            SELECT lo AS node FROM {p} UNION ALL SELECT hi FROM {p})
        GROUP BY node
    ), k{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE deg >= {k}),
    e{r} AS MATERIALIZED (
        SELECT e.lo, e.hi FROM {p} e
        WHERE EXISTS (SELECT 1 FROM k{r} x WHERE x.node = e.lo)
          AND EXISTS (SELECT 1 FROM k{r} y WHERE y.node = e.hi)
    )""")
    return (
        "\n    WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT n_name, deg FROM (
        SELECT node, COUNT(*) AS deg FROM (
            SELECT lo AS node FROM e{rounds}
            UNION ALL SELECT hi FROM e{rounds})
        GROUP BY node)
    JOIN nation ON node = n_nationkey
    """
    )


@register(
    "nation_trade_k_core",
    _k_core_oracle(k=11, rounds=6),
    ops=["graph-k-core", "iterative", "A3"],
)
def nation_trade_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """11-core of the median-sparsified nation trade graph
    (operators/graph.py:k_core_fixed_rounds): edges are nation pairs
    with ≥ median distinct-order volume, then 6 peeling rounds drop
    weakly-connected nations and the edges they carried — the dense
    trading club that survives cascade removal. Exactly 6 rounds on
    both engines (no convergence check — equivalence by construction);
    rounds are checkpointed to stop the 3×-per-round lineage blowup,
    mirrored by MATERIALIZED CTEs on the DuckDB side."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    raw = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(
            F.least("s_nationkey", "c_nationkey").alias("lo"),
            F.greatest("s_nationkey", "c_nationkey").alias("hi"),
            F.col("o_orderkey").alias("ok"),
        )
    )
    wpairs = raw.groupBy("lo", "hi").agg(
        F.count_distinct("ok").alias("cnt")
    )
    med = wpairs.agg(
        F.percentile(F.col("cnt").cast("double"), 0.5).alias("m")
    )
    edges = (
        wpairs.crossJoin(F.broadcast(med))
        .filter(F.col("cnt").cast("double") >= F.col("m"))
        .select("lo", "hi")
    )
    core = graph.k_core_fixed_rounds(edges, k=11, rounds=6)
    return core.join(
        n, core["node"] == n["n_nationkey"]
    ).select("n_name", "deg")


@register(
    "event_trigram_patterns",
    """
    WITH s AS (
        SELECT user_id, list(event_type ORDER BY ts, event_id) AS seq
        FROM events GROUP BY user_id
    ), t AS (
        SELECT unnest(list_transform(range(1, len(seq) - 1),
                   i -> seq[i] || '>' || seq[i+1] || '>' || seq[i+2]))
                 AS trigram
        FROM s WHERE len(seq) >= 3
    )
    SELECT trigram, COUNT(*) AS n
    FROM t GROUP BY trigram
    ORDER BY n DESC, trigram LIMIT 20
    """,
    ops=["sequence-mining", "A3", "array-fold"],
)
def event_trigram_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral sequence mining: top-20 contiguous 3-event patterns
    across user timelines. Per-user sequences assemble with ONE
    grouped collect sorted in-row by (ts, event_id) — deterministic
    under timestamp ties, no window over the event table — and the
    trigram explode is in-row codegen. At 100 TB the per-user list is
    session-bounded upstream (sessionize first); the pattern space is
    |event_types|³, a tiny aggregate."""
    e = _t(spark, sf_dir, "events")
    seq = e.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.unix_micros("ts").alias("t"),
                    F.col("event_id").alias("i"),
                    F.col("event_type").alias("et"),
                )
            )
        ).alias("seq")
    )
    el = lambda i: F.element_at(F.col("seq"), i).getField("et")
    tris = F.transform(
        F.sequence(F.lit(1), F.size("seq") - 2),
        lambda i: F.concat_ws(">", el(i), el(i + 1), el(i + 2)),
    )
    return (
        seq.filter(F.size("seq") >= 3)
        .select(F.explode(tris).alias("trigram"))
        .groupBy("trigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "trigram")
        .limit(20)
    )


@register(
    "embedding_coverage_audit",
    """
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_vec,
           CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS coverage
    FROM documents d
    LEFT JOIN embeddings e ON e.vec_id = d.doc_id
    GROUP BY d.source
    """,
    ops=["coverage-audit", "J4", "A3"],
)
def embedding_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text↔embedding alignment audit: per source, how many documents
    have a row in the embeddings table (vec_id keyed to doc_id) — the
    referential-coverage check a multimodal pipeline runs before
    training on 'paired' data. Left join + conditional count, one
    shuffle."""
    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings").select(F.col("vec_id"))
    joined = d.join(e, d["doc_id"] == e["vec_id"], "left")
    has = F.when(F.col("vec_id").isNotNull(), 1).otherwise(0)
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(has).cast("long").alias("n_with_vec"),
        (F.sum(has).cast("double") / F.count(F.lit(1))).alias("coverage"),
    )


@register(
    "order_total_reconciliation",
    """
    WITH li AS (
        SELECT l_orderkey,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS li_total
        FROM lineitem GROUP BY l_orderkey
    ), j AS (
        SELECT o.o_orderstatus AS status,
               CAST(o.o_totalprice AS DECIMAL(18,2)) AS header_total,
               li.li_total
        FROM orders o JOIN li ON li.l_orderkey = o.o_orderkey
    )
    SELECT status,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN header_total = li_total THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact,
           CAST(SUM(CAST(abs(header_total - li_total) AS DECIMAL(18,2)))
                AS DOUBLE) AS total_abs_diff
    FROM j GROUP BY status
    """,
    ops=["cross-table-audit", "V-integrity", "A3"],
)
def order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation: the order header's total vs the sum
    of its line items, per status — exact DECIMAL arithmetic, so a
    header/detail drift of a single cent is visible. The classic
    header-detail integrity audit (the fact-table analogue of the FK
    validators), one co-keyed aggregation + join."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    li_tot = li.groupBy("l_orderkey").agg(
        F.sum(_dec2("l_extendedprice")).alias("li_total")
    )
    j = o.join(li_tot, o["o_orderkey"] == li_tot["l_orderkey"]).select(
        F.col("o_orderstatus").alias("status"),
        _dec2("o_totalprice").alias("header_total"),
        "li_total",
    )
    exact = F.when(F.col("header_total") == F.col("li_total"), 1).otherwise(0)
    return j.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(exact).cast("long").alias("n_exact"),
        F.sum(
            F.abs(F.col("header_total") - F.col("li_total")).cast(DEC2)
        )
        .cast("double")
        .alias("total_abs_diff"),
    )


@register(
    "bm25_topk",
    """
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS tok
        FROM documents
    ), dl AS (
        SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
    ), scal AS (
        SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_toks
        FROM dl
    ), tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf FROM toks
        WHERE tok IN ('spark', 'vector', 'slow') GROUP BY doc_id, tok
    ), dfs AS (
        SELECT tok, COUNT(*) AS df_t FROM tf GROUP BY tok
    ), sc AS (
        SELECT tf.doc_id, dl.dl,
               CAST(FLOOR(
                   ln((CAST(n_docs - df_t AS DOUBLE) + 0.5)
                      / (CAST(df_t AS DOUBLE) + 0.5) + 1.0)
                   * (CAST(tf AS DOUBLE) * 2.2)
                   / (CAST(tf AS DOUBLE)
                      + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
                               / (CAST(total_toks AS DOUBLE) / n_docs))))
                   * 1000000000) AS BIGINT) AS t_fp9
        FROM tf
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN scal
        JOIN dfs ON dfs.tok = tf.tok
    )
    SELECT doc_id, dl, COUNT(*) AS n_hit_terms,
           CAST(SUM(t_fp9) AS BIGINT) AS bm25_fp9
    FROM sc GROUP BY doc_id, dl
    ORDER BY bm25_fp9 DESC, doc_id LIMIT 20
    """,
    ops=["text-retrieval-bm25", "text-index", "A3", "§2.8"],
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (operators.text.bm25_scores): top-20 documents
    for a 3-term query under Lucene-variant Okapi BM25. Term
    frequencies filter to the query terms BEFORE their shuffle;
    corpus stats ride a 1-row broadcast; per-term scores are floored
    to fp9 pre-sum so both engines integer-aggregate identically.
    Top-k is orderBy+limit (TakeOrdered merge, no global window)."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    scored = text.bm25_scores(d, ["spark", "vector", "slow"])
    return slicing.top_k(
        scored, [F.col("bm25_fp9").desc(), F.col("doc_id")], 20
    )


@register(
    "order_window_overlap",
    """
    WITH w AS (
        SELECT o_custkey, o_orderkey,
               CAST(date_diff('day', DATE '1970-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS s
        FROM orders
    )
    SELECT a.o_custkey AS custkey,
           COUNT(*) AS n_overlap_pairs,
           CAST(SUM(LEAST(a.s + 7, b.s + 7) - GREATEST(a.s, b.s))
                AS BIGINT) AS total_overlap_days,
           CAST(MAX(LEAST(a.s + 7, b.s + 7) - GREATEST(a.s, b.s))
                AS BIGINT) AS max_overlap_days
    FROM w a JOIN w b
      ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
     AND a.s < b.s + 7 AND b.s < a.s + 7
    GROUP BY custkey
    """,
    ops=["interval-join-banded", "A3"],
)
def order_window_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed interval-overlap join (operators.joins.
    interval_overlap_pairs): each order opens a 7-day fulfillment
    window; per customer, all pairs of that customer's windows that
    overlap, with total/max overlap days. The Spark side bands windows
    into 7-day grid cells and equi-joins on (customer, cell) with
    first-shared-cell single emission — a hash join, never the
    BroadcastNestedLoopJoin a raw range predicate would plan; keying
    by customer is what keeps candidates AND output linear in the
    order count (the operator docstring's density discipline — the
    unkeyed all-pairs form is quadratic in the data itself, measured
    20× for 10× data before this query was keyed). The oracle states
    the same pairs as a plain range self-join."""
    o = _t(spark, sf_dir, "orders")
    iv = o.select(
        "o_custkey",
        F.col("o_orderkey").alias("iid"),
        F.unix_date(F.to_date("o_orderdate")).alias("s"),
        (F.unix_date(F.to_date("o_orderdate")) + F.lit(7)).alias("e"),
    )
    pairs = joins.interval_overlap_pairs(
        iv, "iid", "s", "e", cell=7, partition_cols=["o_custkey"]
    )
    return (
        pairs.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_overlap_pairs"),
            F.sum("overlap").cast("long").alias("total_overlap_days"),
            F.max("overlap").cast("long").alias("max_overlap_days"),
        )
    )


@register(
    "nation_revenue_cusum",
    """
    WITH daily AS (
        SELECT n_name, CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DECIMAL(18,2)) AS r
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name, day
    ), d AS (
        SELECT n_name, day,
               CAST(COUNT(*) OVER k AS DECIMAL(6,0)) * r
                 - SUM(r) OVER k AS dd
        FROM daily
        WINDOW k AS (PARTITION BY n_name)
    ), p AS (
        SELECT n_name, day, SUM(dd) OVER w AS pp
        FROM d
        WINDOW w AS (PARTITION BY n_name ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT n_name, day,
           CAST(pp - CASE WHEN MIN(pp) OVER w2 < 0 THEN MIN(pp) OVER w2
                          ELSE CAST(0 AS DECIMAL(18,2)) END
                AS DOUBLE) AS cusum_scaled
    FROM p
    WINDOW w2 AS (PARTITION BY n_name ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    ops=["timeseries-changepoint", "window-rolling", "A3"],
)
def nation_revenue_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detector over each nation's daily
    revenue (operators.timeseries.cusum_above_mean): the
    ``max(0, S+d)`` recursion rewritten as running-sum minus
    running-min — two ordered windows per nation, exact DECIMAL
    throughout (division- and libm-free; the mean is folded in scaled
    by n). A sustained run of above-mean days pushes the statistic up
    linearly — the standard changepoint alarm shape."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    daily = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(_dec2("o_totalprice")).cast(DEC2).alias("r"))
    )
    ts = timeseries.cusum_above_mean(daily, ["n_name"], "day", "r")
    return ts.select(
        "n_name", "day", F.col("cusum_scaled").cast("double").alias("cusum_scaled")
    )


@register(
    "orders_equidepth_deciles",
    """
    WITH j AS (
        SELECT n_name, o_orderkey,
               CAST(o_totalprice AS DECIMAL(18,2)) AS price
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
    ), r AS (
        SELECT n_name, price,
               CAST((ROW_NUMBER() OVER (PARTITION BY n_name
                                        ORDER BY price, o_orderkey) - 1)
                    * 10 // COUNT(*) OVER (PARTITION BY n_name)
                    AS INTEGER) AS decile
        FROM j
    )
    SELECT n_name, decile, COUNT(*) AS n_orders,
           CAST(MIN(price) AS DOUBLE) AS min_price,
           CAST(MAX(price) AS DOUBLE) AS max_price,
           CAST(SUM(price) AS DOUBLE) AS sum_price
    FROM r GROUP BY n_name, decile
    """,
    ops=["stats-quantile-equidepth", "§2.8", "A3", "C9"],
)
def orders_equidepth_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth decile histogram of order value per nation
    (operators.slicing.equidepth_buckets): rank-based bucketing with
    a unique tiebreaker and integer arithmetic only — no
    percentile-interpolation semantics for engines to disagree on.
    Per-nation windows shuffle once on the group key; the global
    variant range-repartitions instead (see the operator docstring)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    j = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("n_name", "o_orderkey", _dec2("o_totalprice").alias("price"))
    )
    b = slicing.equidepth_buckets(
        j, ["n_name"], [F.col("price"), F.col("o_orderkey")], 10, "decile"
    )
    return b.groupBy("n_name", "decile").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("price").cast("double").alias("min_price"),
        F.max("price").cast("double").alias("max_price"),
        F.sum("price").cast("double").alias("sum_price"),
    )


# =====================================================================
# Round 8 — map/trace-spec egress (the reference's plotly layer),
# full-universe country normalization, and the live JDBC round-trip.
# =====================================================================

# Per-nation alias probes (index = nation key 0-24): the identifier
# shapes the reference's COUNTRIES_MAP absorbs — alpha-2 (upper/lower),
# alpha-3, short names (any case, padded), official names, the
# Eurostat EL/UK quirks — plus two that MISS ("Iran", "vietnam" are
# not ISO short names) and must take the .get(k, default) fallback.
_ALIAS_PROBES: tuple[str, ...] = (
    "DZ", "Argentina", " brazil ", "CAN", "EG",
    "ETH", "FRENCH REPUBLIC", "de", "India", "ID",
    "Iran", "IRQ", "jp", "Jordan", "KE",
    "ma", "Mozambique", "PER", "People's Republic of China", "ro",
    "Russian Federation", "SAU", "UK", "United States of America",
    "vietnam",
)

_ALIAS_PROBES_SQL = ", ".join(
    f"({i}, '{p.replace(chr(39), chr(39) * 2)}')"
    for i, p in enumerate(_ALIAS_PROBES)
)


@register(
    "country_alias_normalize",
    f"""
    WITH cc AS (
        SELECT c_nationkey, COUNT(*) AS n_customers
        FROM customer GROUP BY c_nationkey
    ), probes AS (
        SELECT * FROM (VALUES {_ALIAS_PROBES_SQL}) p(nationkey, probe_alias)
    ), uni AS (
        SELECT * FROM {iso3166.alias_values_sql()}
    )
    SELECT n.n_nationkey, p.probe_alias,
           COALESCE(u.canonical_name, lower(trim(p.probe_alias)))
               AS canonical_name,
           u.iso3 AS iso3,
           u.iso3 IS NOT NULL AS matched,
           cc.n_customers
    FROM nation n
    JOIN probes p ON p.nationkey = n.n_nationkey
    JOIN cc ON cc.c_nationkey = n.n_nationkey
    LEFT JOIN uni u ON lower(trim(p.probe_alias)) = u.alias
    """,
    ops=["J2", "J3", "S8", "C1"],
)
def country_alias_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/J2/J3 over the FULL ISO 3166-1 universe — the pycountry
    analog (crime_immigration_etl.py:16-34: every country's name,
    alpha-2, alpha-3 and official name feed one lowercased alias map;
    lookups fall back to the input). functions/iso3166.py carries all
    249 countries (914 alias rows) + the Eurostat EL→GRC / UK→GBR
    quirks (etl:271-276). The probe column exercises each alias shape
    plus two misses that must take the fallback.

    Scale shape: the universe is a ~few-KB broadcast; the only shuffle
    is the customer-count aggregate (partial map-side combine on a
    25-value key)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    cc = c.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_customers"))
    probe = F.element_at(
        F.array(*[F.lit(p) for p in _ALIAS_PROBES]),
        (F.col("n_nationkey") + 1).cast("int"),
    )
    probed = (
        n.join(cc, n.n_nationkey == cc.c_nationkey)
        .withColumn("probe_alias", probe)
        .withColumn("__alias", cleaning.normalize_string("probe_alias"))
    )
    uni = F.broadcast(iso3166.alias_relation(spark))
    # uni["alias"], not uni.alias — .alias is the DataFrame METHOD
    out = probed.join(uni, probed["__alias"] == uni["alias"], "left")
    return out.select(
        "n_nationkey",
        "probe_alias",
        F.coalesce("canonical_name", "__alias").alias("canonical_name"),
        "iso3",
        F.col("iso3").isNotNull().alias("matched"),
        "n_customers",
    )


# The reference's Scattergeo constants (map-making/create-maps.py):
# positional size-bucket limits (MAPS:15), one color per bucket
# (MAPS:16), marker size divisor (MAPS:18), and the fixed marker/
# layout attributes (MAPS:25-37).
_GEO_LIMITS: tuple[tuple[int, int], ...] = ((0, 3), (3, 11), (11, 21), (21, 50), (50, 3000))
_GEO_COLORS: tuple[str, ...] = (
    "royalblue", "crimson", "lightseagreen", "orange", "lightgrey",
)
_GEO_SCALE = 5000


@register(
    "scattergeo_trace_specs",
    f"""
    WITH pts AS (
        SELECT n_nationkey, n_name AS name,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS immigration,
               COUNT(*) AS n_orders,
               COUNT(DISTINCT o_custkey) AS n_customers
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_nationkey, n_name
    ), ranked AS (
        SELECT *,
               CAST(n_orders AS DOUBLE) / n_customers * 100000 AS crime_rate,
               ROW_NUMBER() OVER (ORDER BY immigration DESC, name) AS rn
        FROM pts
    ), pos AS (
        SELECT * FROM {geo.positions_values_sql()}
    )
    SELECT p.iso3, r.name, p.lon, p.lat,
           CASE WHEN rn <= 3 THEN '0 - 3' WHEN rn <= 11 THEN '3 - 11'
                WHEN rn <= 21 THEN '11 - 21' WHEN rn <= 50 THEN '21 - 50'
                ELSE '50 - 3000' END AS trace_name,
           CASE WHEN rn <= 3 THEN 'royalblue' WHEN rn <= 11 THEN 'crimson'
                WHEN rn <= 21 THEN 'lightseagreen'
                WHEN rn <= 50 THEN 'orange'
                ELSE 'lightgrey' END AS marker_color,
           r.immigration / 5000 AS marker_size,
           r.name || '<br>Immigration '
                  || CAST(CAST(r.immigration / 1000000 AS DECIMAL(18,2))
                          AS VARCHAR)
                  || chr(10) || ' Crime'
                  || CAST(CAST(r.crime_rate AS DECIMAL(10,2)) AS VARCHAR)
               AS text,
           r.crime_rate,
           'ISO-3' AS locationmode,
           'rgb(40,40,40)' AS line_color,
           CAST(0.5 AS DOUBLE) AS line_width,
           'area' AS sizemode
    FROM ranked r JOIN pos p ON p.nationkey = r.n_nationkey
    """,
    ops=["C8", "C9", "F8", "K5"],
)
def scattergeo_trace_specs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE viz egress — one row per map point carrying every
    plotly Scattergeo attribute the reference sets
    (map-making/create-maps.py:25-37): positional limit slices become
    rank buckets over an explicit deterministic order (MAPS:15,22-24;
    pandas df[lo:hi] slices file order — F8 discipline makes it a
    row_number), per-bucket trace name '{{lo}} - {{hi}}' (MAPS:37) and
    color (MAPS:16), marker size = metric/5000 (MAPS:18,30),
    locationmode='ISO-3' (MAPS:26), line_color/line_width/sizemode
    (MAPS:32-34), and the hover text concat (MAPS:14 — its exact
    '<br>Immigration ' + metric/1e6 + '\\n Crime' + rate shape).
    Metrics are the testdata analogs: immigration→revenue,
    crime→orders-per-100k-customers; positions come from
    functions/geo.py (the countries.txt analog, create-points.py:1).

    Scale shape: one shuffle (the nation-level agg); positions and the
    rank window run on 25 rows. A feed for go.Figure construction —
    each trace_name group maps to one add_trace call."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    pts = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            o.o_custkey == F.col("c_custkey"),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy("n_nationkey", F.col("n_name").alias("name"))
        .agg(
            F.sum(_dec2("o_totalprice")).cast("double").alias("immigration"),
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
        .withColumn(
            "crime_rate",
            F.col("n_orders").cast("double") / F.col("n_customers") * 100000,
        )
    )
    w = Window.orderBy(F.col("immigration").desc(), F.col("name"))
    ranked = pts.withColumn("rn", F.row_number().over(w))
    trace_name = (
        F.when(F.col("rn") <= 3, "0 - 3")
        .when(F.col("rn") <= 11, "3 - 11")
        .when(F.col("rn") <= 21, "11 - 21")
        .when(F.col("rn") <= 50, "21 - 50")
        .otherwise("50 - 3000")
    )
    marker_color = (
        F.when(F.col("rn") <= 3, _GEO_COLORS[0])
        .when(F.col("rn") <= 11, _GEO_COLORS[1])
        .when(F.col("rn") <= 21, _GEO_COLORS[2])
        .when(F.col("rn") <= 50, _GEO_COLORS[3])
        .otherwise(_GEO_COLORS[4])
    )
    text = F.concat(
        F.col("name"),
        F.lit("<br>Immigration "),
        (F.col("immigration") / 1000000).cast(DEC2).cast("string"),
        F.lit("\n Crime"),
        F.col("crime_rate").cast("decimal(10,2)").cast("string"),
    )
    pos = F.broadcast(geo.positions_relation(spark))
    return (
        ranked.join(pos, ranked.n_nationkey == pos.nationkey)
        .select(
            "iso3",
            "name",
            "lon",
            "lat",
            trace_name.alias("trace_name"),
            marker_color.alias("marker_color"),
            (F.col("immigration") / _GEO_SCALE).alias("marker_size"),
            text.alias("text"),
            "crime_rate",
            F.lit("ISO-3").alias("locationmode"),
            F.lit("rgb(40,40,40)").alias("line_color"),
            F.lit(0.5).alias("line_width"),
            F.lit("area").alias("sizemode"),
        )
    )


@register(
    "viz_point_specs",
    f"""
    WITH pts AS (
        SELECT n_nationkey, n_name AS name,
               CAST(year(o_orderdate) AS INTEGER) AS order_year,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS size_value,
               COUNT(*) AS color_value
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_nationkey, n_name, order_year
    ), pos AS (
        SELECT * FROM {geo.positions_values_sql()}
    )
    SELECT pt.name, pt.order_year, p.lon, p.lat,
           pt.size_value, pt.color_value,
           'point in (' || CAST(CAST(p.lon AS DECIMAL(6,1)) AS VARCHAR)
               || ', ' || CAST(CAST(p.lat AS DECIMAL(6,1)) AS VARCHAR)
               || ') with size '
               || CAST(CAST(pt.size_value AS DECIMAL(18,2)) AS VARCHAR)
               || ' and color ' || CAST(pt.color_value AS VARCHAR)
               AS point_spec
    FROM pts pt JOIN pos p ON p.nationkey = pt.n_nationkey
    """,
    ops=["C8", "K5"],
)
def viz_point_specs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-country-year point specs — create-points.py:19-20 renders
    'point in {{position}} with size {{immigration[year]}} and color
    {{crime[year]}}' per country per year; here the position comes from
    the functions/geo.py relation and the metrics are the per-year
    testdata analogs (size→revenue, color→order count). Number
    rendering goes through DECIMAL so both engines print identical
    strings (the viz_hover_points convention)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    pts = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            o.o_custkey == F.col("c_custkey"),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy(
            "n_nationkey",
            F.col("n_name").alias("name"),
            F.year("o_orderdate").cast("int").alias("order_year"),
        )
        .agg(
            F.sum(_dec2("o_totalprice")).cast("double").alias("size_value"),
            F.count(F.lit(1)).alias("color_value"),
        )
    )
    pos = F.broadcast(geo.positions_relation(spark))
    spec = F.concat(
        F.lit("point in ("),
        F.col("lon").cast("decimal(6,1)").cast("string"),
        F.lit(", "),
        F.col("lat").cast("decimal(6,1)").cast("string"),
        F.lit(") with size "),
        F.col("size_value").cast(DEC2).cast("string"),
        F.lit(" and color "),
        F.col("color_value").cast("string"),
    )
    return pts.join(pos, pts.n_nationkey == pos.nationkey).select(
        "name",
        "order_year",
        "lon",
        "lat",
        "size_value",
        "color_value",
        spec.alias("point_spec"),
    )


@register(
    "jdbc_roundtrip_report",
    """
    SELECT o_orderstatus,
           CAST(year(o_orderdate) AS INTEGER) AS order_year,
           COUNT(*) AS n_orders,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_revenue
    FROM orders
    GROUP BY o_orderstatus, order_year
    """,
    ops=["K1", "K2", "K3", "S5"],
)
def jdbc_roundtrip_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 executed LIVE — the reference's relational load
    (crime_immigration_etl.py:314-380: execute_values page_size=1000
    per-table) as a real df.write.jdbc with batchsize=1000 into an
    embedded Apache Derby database (the JDBC engine that ships in
    Spark's jars/), then read back over JDBC and aggregated. The oracle
    computes the same aggregate straight from parquet, so a hash match
    proves the round-trip was lossless end-to-end — types, batching,
    and the overwrite (per-table replace) path all exercised against a
    live database, not just writer construction.

    Timestamps stay OUT of the round-trip (order_year is projected to
    int pre-write): JDBC timestamp columns re-render through the
    session timezone on both legs, a known cross-engine trap. At scale
    the write parallelizes per-partition (one connection + batched
    inserts each) and the read back uses a partitionColumn so the scan
    is not single-threaded."""
    from ..sinks.writers import jdbc_writer

    url = "jdbc:derby:memory:sg_roundtrip;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    staged = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.year("o_orderdate").cast("int").alias("order_year"),
    )
    jdbc_writer(
        staged, url, "SG_ORDERS", batchsize=1000, mode="overwrite",
        properties=props,
    ).save()
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "SG_ORDERS")
        .option("driver", props["driver"])
        # parallel read-back: year spans the testdata's 1992-1998
        .option("partitionColumn", "order_year")
        .option("lowerBound", "1990")
        .option("upperBound", "2000")
        .option("numPartitions", "8")
        .load()
    )
    return back.groupBy("o_orderstatus", "order_year").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").cast("long").alias("n_customers"),
        F.sum(_dec2("o_totalprice")).cast("double").alias("total_revenue"),
    )


@register(
    "hybrid_rrf_topk",
    """
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS tok
        FROM documents
    ), dl AS (
        SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
    ), scal AS (
        SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_toks
        FROM dl
    ), tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf FROM toks
        WHERE tok IN ('spark', 'vector', 'slow') GROUP BY doc_id, tok
    ), dfs AS (
        SELECT tok, COUNT(*) AS df_t FROM tf GROUP BY tok
    ), sc AS (
        SELECT tf.doc_id,
               CAST(FLOOR(
                   ln((CAST(n_docs - df_t AS DOUBLE) + 0.5)
                      / (CAST(df_t AS DOUBLE) + 0.5) + 1.0)
                   * (CAST(tf AS DOUBLE) * 2.2)
                   / (CAST(tf AS DOUBLE)
                      + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
                               / (CAST(total_toks AS DOUBLE) / n_docs))))
                   * 1000000000) AS BIGINT) AS t_fp9
        FROM tf
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN scal
        JOIN dfs ON dfs.tok = tf.tok
    ), bm AS (
        SELECT doc_id, CAST(SUM(t_fp9) AS BIGINT) AS bm25_fp9
        FROM sc GROUP BY doc_id
    ), lex AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY bm25_fp9 DESC, doc_id)
                    AS INTEGER) AS lex_rank
        FROM (SELECT * FROM bm ORDER BY bm25_fp9 DESC, doc_id LIMIT 50)
    ), q AS (
        SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
    ), cosd AS (
        SELECT vec_id AS doc_id, cosine FROM (
            SELECT vec_id,
                   list_sum(list_transform(list_zip(embedding, qv),
                            s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(list_zip(embedding, embedding),
                            s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))))
                      * sqrt(list_sum(list_transform(list_zip(qv, qv),
                            s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))))
                     AS cosine
            FROM embeddings, q
            ORDER BY cosine DESC, vec_id LIMIT 50)
    ), vec AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id)
                    AS INTEGER) AS vec_rank
        FROM cosd
    ), fused AS (
        SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
               l.lex_rank, v.vec_rank,
               COALESCE(CAST(FLOOR(1000000000.0 / (60 + l.lex_rank))
                             AS BIGINT), 0)
             + COALESCE(CAST(FLOOR(1000000000.0 / (60 + v.vec_rank))
                             AS BIGINT), 0) AS rrf_fp9
        FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
    )
    SELECT doc_id, lex_rank, vec_rank, rrf_fp9
    FROM fused ORDER BY rrf_fp9 DESC, doc_id LIMIT 20
    """,
    ops=["text-retrieval-bm25", "similarity-brute", "rank-fusion", "§2.8"],
)
def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — BM25 lexical arm + brute-cosine vector arm,
    fused by reciprocal-rank fusion (similarity.rrf_fuse; Cormack et
    al. 2009): score = Σ 1/(60+rank), fixed-point so both engines agree
    bit-for-bit. The RAG candidate-generation pattern over the
    documents/embeddings twin tables (shared id space).

    Scale shape: each arm does its heavy lifting distributed (BM25
    postings shuffle keyed on doc/term; cosine scan broadcast-joined to
    a 1-row query relation) and reduces to a top-50 via orderBy+limit —
    Spark's TakeOrdered, a partial top-k per partition, NOT a global
    sort. The rank windows and the full-outer fusion join then run on
    ≤50-row relations."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    e = _t(spark, sf_dir, "embeddings", fanout=True)
    lex_top = (
        text.bm25_scores(d, ["spark", "vector", "slow"])
        .select("doc_id", "bm25_fp9")
        .orderBy(F.col("bm25_fp9").desc(), F.col("doc_id"))
        .limit(50)
    )
    lex = lex_top.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("bm25_fp9").desc(), F.col("doc_id"))
        ),
    )
    vec_top = similarity.cosine_topk_rel(
        e, e.filter(F.col("vec_id") == 0), k=50
    ).withColumnRenamed("vec_id", "doc_id")
    vec = vec_top.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("cosine").desc(), F.col("doc_id"))
        ),
    )
    fused = similarity.rrf_fuse(lex, vec, id_col="doc_id", k=20)
    return fused.select(
        "doc_id",
        F.col("rank_a").alias("lex_rank"),
        F.col("rank_b").alias("vec_rank"),
        "rrf_fp9",
    )


@register(
    "ivfpq_topk",
    f"""
    WITH {_codebook_cte(4)}, q AS (
        SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
    ), dims AS (
        SELECT CAST(unnest(range(64)) AS INTEGER) AS dim
    ), comp AS (
        SELECT label, d.dim,
               SUM(CAST(FLOOR(CAST(embedding[d.dim + 1] AS DOUBLE) * 1000000000)
                        AS BIGINT)) AS sum_nano,
               COUNT(*) AS cnt
        FROM embeddings, dims d
        GROUP BY label, d.dim
    ), diffs AS (
        SELECT c.label,
               CAST(q.qv[c.dim + 1] AS DOUBLE)
                 - CAST(c.sum_nano AS DOUBLE) / c.cnt / 1000000000 AS diff
        FROM comp c, q
    ), cdist AS (
        SELECT label,
               SUM(CAST(FLOOR(diff * diff * 1000000000) AS BIGINT)) AS dist_nano
        FROM diffs GROUP BY label
    ), probe AS (
        SELECT label FROM cdist ORDER BY dist_nano, label LIMIT 3
    ), cand AS (
        SELECT e.vec_id, e.embedding, e.label
        FROM embeddings e JOIN probe USING (label)
    ), cdists AS (
        SELECT e.vec_id, g.j AS sub, b.c,
               CAST(FLOOR(list_sum(list_transform(range(1, 9),
                   i -> (CAST(e.embedding[g.j*8 + i] AS DOUBLE)
                         - b.centroid[g.j*8 + i])
                        * (CAST(e.embedding[g.j*8 + i] AS DOUBLE)
                           - b.centroid[g.j*8 + i])))
                   * 1000000000) AS BIGINT) AS d
        FROM cand e
        CROSS JOIN generate_series(0, 7) g(j)
        CROSS JOIN cb b
    ), codes AS (
        SELECT vec_id, sub, c FROM (
            SELECT vec_id, sub, c,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY d, c) AS rn
            FROM cdists) WHERE rn = 1
    ), tbl AS (
        SELECT g.j AS sub, b.c,
               CAST(FLOOR(list_sum(list_transform(range(1, 9),
                   i -> (CAST(q.qv[g.j*8 + i] AS DOUBLE)
                         - b.centroid[g.j*8 + i])
                        * (CAST(q.qv[g.j*8 + i] AS DOUBLE)
                           - b.centroid[g.j*8 + i])))
                   * 1000000000) AS BIGINT) AS d
        FROM q CROSS JOIN generate_series(0, 7) g(j) CROSS JOIN cb b
    ), adc AS (
        SELECT cd.vec_id, CAST(SUM(t.d) AS BIGINT) AS adc_dist_nano
        FROM codes cd JOIN tbl t ON t.sub = cd.sub AND t.c = cd.c
        GROUP BY cd.vec_id
    )
    SELECT a.vec_id, c.label, a.adc_dist_nano
    FROM adc a JOIN cand c USING (vec_id)
    ORDER BY adc_dist_nano, vec_id LIMIT 10
    """,
    ops=["similarity-ivf", "pq-adc", "similarity-ann"],
)
def ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite ANN (similarity.ivfpq_topk_rel) — the FAISS
    IndexIVFPQ shape and the architecture that actually holds at
    100 TB: the coarse quantizer prunes to 3 probed cells (partition
    pruning when the corpus is partitioned by cell), then PQ
    asymmetric-distance ranks ONLY the survivors — m=8 integer adds
    per candidate row against a broadcast distance table built from
    the TRAINED codebook relation. Every stage is nano fixed-point
    deterministic, so the full composite is oracle-checked — cell
    ranking, candidate pruning, code assignment, and ADC ranking."""
    e = _t(spark, sf_dir, "embeddings", fanout=True)
    cb = similarity.train_codebook(e, k=4)
    q = e.filter(F.col("vec_id") == 0)
    return similarity.ivfpq_topk_rel(
        e, cb, q, k=10, nprobe=3, m=8, n_centroids=4
    )


def _fp6(num: str, den: str) -> F.Column:
    """``floor(num / den * 1e6)`` as a long; -1 when ``den`` is 0 — the
    LSH recall/precision ratios the oracles compute in SQL."""
    return (
        F.when(
            F.col(den) > 0,
            F.floor(F.col(num).cast("double") / F.col(den) * 1000000).cast("long"),
        )
        .otherwise(F.lit(-1).cast("long"))
    )


@register(
    "lsh_recall_report",
    f"""
    WITH {_SHINGLES_CTE}, sizes AS (
        SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY id_a, id_b
    ), truth AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_common AS DOUBLE)
              / (sa.set_size + sb.set_size - n_common) >= 0.5
    ), sigs AS (
        SELECT doc_id,
               {_MH_MINS}
        FROM sh GROUP BY doc_id
    ), bands AS (
        {_MH_BANDS}
    ), cands AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ), hits AS (
        SELECT c.id_a, c.id_b
        FROM cands c JOIN truth t ON t.id_a = c.id_a AND t.id_b = c.id_b
    ), s AS (
        SELECT (SELECT COUNT(*) FROM truth) AS n_truth_pairs,
               (SELECT COUNT(*) FROM cands) AS n_candidates,
               (SELECT COUNT(*) FROM hits) AS n_candidates_true
    )
    SELECT n_truth_pairs, n_candidates, n_candidates_true,
           CASE WHEN n_truth_pairs = 0 THEN CAST(-1 AS BIGINT)
                ELSE CAST(FLOOR(CAST(n_candidates_true AS DOUBLE)
                                / n_truth_pairs * 1000000) AS BIGINT)
           END AS recall_fp6,
           CASE WHEN n_candidates = 0 THEN CAST(-1 AS BIGINT)
                ELSE CAST(FLOOR(CAST(n_candidates_true AS DOUBLE)
                                / n_candidates * 1000000) AS BIGINT)
           END AS precision_fp6
    FROM s
    """,
    ops=["dedup-minhash-lsh", "dedup-jaccard", "recall-report"],
)
def lsh_recall_report(
    spark: SparkSession, sf_dir: str,
    truth_sample_frac: float | None = None,
) -> DataFrame:
    """Candidate-quality report for MinHash-LSH banding — the dedup
    twin of the ANN family's recall reports (int8/ivf/pq): ground
    truth is the EXACT word-3-gram Jaccard ≥ 0.5 pair set (shared-
    shingle join — complete, since j ≥ 0.5 implies a shared shingle);
    the LSH arm is the 16-hash / 4×4-band candidate set. Reports
    banding recall (truth pairs surfaced as candidates) and candidate
    precision (candidates that are true near-dups) as fixed-point
    integers — the measured S-curve operating point, engine-exact.

    Sampling policy at production scale: the exact-truth arm is
    quadratic-ish in the stratum it runs on, so at 100 TB this QA
    relation runs on a hash-sampled document stratum, NOT the full
    corpus — pass ``truth_sample_frac`` (e.g. 0.01) and both arms are
    restricted to the same deterministic ``sampling.hash_sample``
    stratum, which keeps recall/precision unbiased estimators of the
    corpus-wide operating point (pairs within a hash stratum are an
    unbiased pair sample). Default None = full corpus, the oracle-
    checked configuration at test SFs.

    Scale shape: both arms are the production shapes (grouped
    pair-explode for truth, band-bucket join for candidates); the
    report itself is three 1-row counts cross-joined (scalar
    broadcasts)."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    if truth_sample_frac is not None:
        d = sampling.hash_sample(d, "doc_id", truth_sample_frac)
    # (the shingle explode also feeds truth + sigs twice, but
    # measured: materializing it is cost-neutral at sf0.1 — the pair
    # relations below are where re-derivation actually hurts)
    sets = dedup.ngram_set(d, n=3)
    # truth and candidate relations each feed MULTIPLE count arms below;
    # Spark does no CSE across crossJoin/union branches (the ivf_sweep
    # lesson), so materialize each ONCE — both are pair-id relations,
    # tiny next to the shingle explode that produces them.
    # The two pair relations share no dependency (each derives its own
    # shingle pass) — overlap their checkpoint jobs (guide §2.6, r15).
    sigs = dedup.minhash_signatures(sets, num_hashes=16, item_col="shingle")
    truth, cands = overlap(
        lambda: dedup.jaccard_pairs(
            sets, item_col="shingle", threshold=0.5
        ).select("id_a", "id_b").localCheckpoint(),
        lambda: dedup.lsh_candidate_pairs(
            sigs, bands=4, rows_per_band=4
        ).localCheckpoint(),
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth_pairs"))
    n_cand = cands.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_hit = cands.join(truth, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_candidates_true")
    )
    row = n_truth.crossJoin(F.broadcast(n_cand)).crossJoin(F.broadcast(n_hit))

    return row.select(
        "n_truth_pairs",
        "n_candidates",
        "n_candidates_true",
        _fp6("n_candidates_true", "n_truth_pairs").alias("recall_fp6"),
        _fp6("n_candidates_true", "n_candidates").alias("precision_fp6"),
    )


def _mh_bands_cte(bands: int, rows: int, suffix: str) -> str:
    """Banding CTE for an arbitrary (bands × rows) split of the 16
    minhashes — the parameterized form of _MH_BANDS."""
    body = "\n        UNION ALL\n        ".join(
        "SELECT doc_id, {b} AS band, md5({cat}) AS bucket FROM sigs".format(
            b=b,
            cat=" || '|' || ".join(
                f"mh_{b * rows + r}" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    return f"bands{suffix} AS (\n        {body}\n    )"


_LSH_SWEEP_CFGS = ((2, 8), (4, 4), (8, 2))
_LSH_SWEEP_ARMS = ", ".join(
    f"""{_mh_bands_cte(b, r, f'_{b}x{r}')}, cands_{b}x{r} AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands_{b}x{r} a JOIN bands_{b}x{r} b
          ON a.band = b.band AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id
    ), hits_{b}x{r} AS (
        SELECT c.id_a FROM cands_{b}x{r} c
        JOIN truth t ON t.id_a = c.id_a AND t.id_b = c.id_b
    )"""
    for b, r in _LSH_SWEEP_CFGS
)
_LSH_SWEEP_SELECTS = "\n    UNION ALL\n".join(
    f"""    SELECT CAST({b} AS BIGINT) AS bands,
           CAST({r} AS BIGINT) AS rows_per_band,
           (SELECT COUNT(*) FROM truth) AS n_truth_pairs,
           (SELECT COUNT(*) FROM cands_{b}x{r}) AS n_candidates,
           (SELECT COUNT(*) FROM hits_{b}x{r}) AS n_candidates_true,
           CASE WHEN (SELECT COUNT(*) FROM truth) = 0
                THEN CAST(-1 AS BIGINT)
                ELSE CAST(FLOOR(
                    CAST((SELECT COUNT(*) FROM hits_{b}x{r}) AS DOUBLE)
                    / (SELECT COUNT(*) FROM truth) * 1000000) AS BIGINT)
           END AS recall_fp6,
           CASE WHEN (SELECT COUNT(*) FROM cands_{b}x{r}) = 0
                THEN CAST(-1 AS BIGINT)
                ELSE CAST(FLOOR(
                    CAST((SELECT COUNT(*) FROM hits_{b}x{r}) AS DOUBLE)
                    / (SELECT COUNT(*) FROM cands_{b}x{r}) * 1000000)
                    AS BIGINT)
           END AS precision_fp6"""
    for b, r in _LSH_SWEEP_CFGS
)


@register(
    "lsh_band_sweep",
    f"""
    WITH {_SHINGLES_CTE}, sizes AS (
        SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY id_a, id_b
    ), truth AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_common AS DOUBLE)
              / (sa.set_size + sb.set_size - n_common) >= 0.5
    ), sigs AS (
        SELECT doc_id,
               {_MH_MINS}
        FROM sh GROUP BY doc_id
    ), {_LSH_SWEEP_ARMS}
{_LSH_SWEEP_SELECTS}
    """,
    ops=["dedup-minhash-lsh", "recall-report", "ann-sweep"],
)
def lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH S-curve made operational: at a fixed 16 minhashes, the
    (bands × rows) split is THE recall/precision knob — more, shorter
    bands catch lower-similarity pairs (recall up, candidate volume
    up); fewer, longer bands are stricter. This sweep reports
    recall/precision vs exact-Jaccard truth (t=0.5) at 2×8, 4×4 and
    8×2 in one relation, each number hash-checked like
    lsh_recall_report. Signatures and the truth arm are computed once;
    each banding arm is one band-bucket self-join.

    Sampling policy at production scale: like lsh_recall_report, the
    exact-truth arm makes this a QA relation that at 100 TB runs on a
    deterministic hash-sampled document stratum
    (``sampling.hash_sample`` on doc_id — an unbiased pair sample),
    not the full corpus; full-corpus is the oracle-checked test-SF
    configuration."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    sets = dedup.ngram_set(d, n=3)
    # "computed once" must be true in the PHYSICAL plan, not just the
    # Python: truth feeds an arm per banding config (+ the scalar
    # count) and sigs feeds every banding self-join — Spark re-derives
    # a subtree per union branch, so materialize both (ivf_sweep
    # lesson; truth is a pair-id relation, sigs is one 16-column row
    # per doc). The two checkpoints share no dependency (each derives
    # its own shingle pass — recompute beats persist here), so their
    # jobs run OVERLAPPED (guide §2.6, r15): the signature aggregate
    # back-fills the exact-Jaccard arm's tail.
    truth, sigs = overlap(
        lambda: dedup.jaccard_pairs(
            sets, item_col="shingle", threshold=0.5
        ).select("id_a", "id_b").localCheckpoint(),
        lambda: dedup.minhash_signatures(
            sets, num_hashes=16, item_col="shingle"
        ).localCheckpoint(),
    )
    n_truth = truth.agg(
        F.count(F.lit(1)).cast("long").alias("n_truth_pairs")
    )
    out = None
    for b, r in _LSH_SWEEP_CFGS:
        cands = dedup.lsh_candidate_pairs(sigs, bands=b, rows_per_band=r)
        n_c = cands.agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates")
        )
        n_h = cands.join(truth, ["id_a", "id_b"]).agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates_true")
        )
        row = (
            n_c.crossJoin(F.broadcast(n_h))
            .crossJoin(F.broadcast(n_truth))
            .select(
                F.lit(b).cast("long").alias("bands"),
                F.lit(r).cast("long").alias("rows_per_band"),
                "n_truth_pairs",
                "n_candidates",
                "n_candidates_true",
            )
        )
        out = row if out is None else out.unionByName(row)

    return out.select(
        "bands",
        "rows_per_band",
        "n_truth_pairs",
        "n_candidates",
        "n_candidates_true",
        _fp6("n_candidates_true", "n_truth_pairs").alias("recall_fp6"),
        _fp6("n_candidates_true", "n_candidates").alias("precision_fp6"),
    )


@register(
    "jaccard_threshold_sweep",
    f"""
    WITH {_SHINGLES_CTE}, sizes AS (
        SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY id_a, id_b
    ), pairs AS (
        SELECT id_a, id_b,
               CAST(n_common AS DOUBLE)
                 / (sa.set_size + sb.set_size - n_common) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
    ), thr AS (
        SELECT CAST(t AS DOUBLE) AS t
        FROM (SELECT unnest(list_value(0.3, 0.5, 0.7)) AS t)
    ), hits AS (
        SELECT t, id_a, id_b FROM pairs JOIN thr ON jaccard >= t
    ), np AS (
        SELECT t, COUNT(*) AS n_pairs FROM hits GROUP BY t
    ), nd AS (
        SELECT t, CAST(COUNT(*) AS BIGINT) AS n_docs_involved FROM (
            SELECT DISTINCT t, d FROM (
                SELECT t, id_a AS d FROM hits
                UNION ALL SELECT t, id_b FROM hits)
        ) GROUP BY t
    )
    SELECT np.t AS threshold, n_pairs, n_docs_involved
    FROM np JOIN nd ON np.t = nd.t
    """,
    ops=["dedup-jaccard", "threshold-sweep", "A3"],
)
def jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup POLICY curve: near-dup pair volume and docs-implicated
    count at Jaccard thresholds 0.3/0.5/0.7 — what moving the knob
    would delete. The pair relation (with its exact-rational jaccard)
    is computed ONCE; each threshold is a filter over it, so the sweep
    costs one pair generation regardless of how many thresholds are
    probed.

    Sampling policy at production scale: exact pair generation at
    threshold 0.0 is the heaviest truth arm in the repo — at 100 TB
    this policy curve runs on a deterministic hash-sampled document
    stratum (``sampling.hash_sample``), which leaves the
    pairs-per-doc and docs-implicated RATES unbiased; full corpus is
    the oracle-checked test-SF configuration."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    sets = dedup.ngram_set(d, n=3)
    # the pair relation feeds BOTH the per-threshold pair counts and
    # the docs-implicated census — materialize it once instead of
    # re-deriving the shingle self-join per consumer (ivf_sweep lesson)
    pairs = dedup.jaccard_pairs(
        sets, item_col="shingle", threshold=0.0
    ).select("id_a", "id_b", "jaccard").localCheckpoint()
    thr = (
        spark.range(1)
        .select(
            F.explode(
                F.array(F.lit(0.3), F.lit(0.5), F.lit(0.7))
            ).alias("t")
        )
    )
    hits = pairs.join(F.broadcast(thr), F.col("jaccard") >= F.col("t"))
    per = hits.groupBy("t").agg(F.count(F.lit(1)).alias("n_pairs"))
    docs = (
        hits.select("t", F.col("id_a").alias("d"))
        .unionByName(hits.select("t", F.col("id_b").alias("d")))
        .distinct()
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs_involved"))
    )
    return per.join(docs, "t").select(
        F.col("t").alias("threshold"), "n_pairs", "n_docs_involved"
    )


@register(
    "png_header_report",
    """
    SELECT doc_id AS media_id,
           CAST(33 AS BIGINT) AS n_bytes,
           TRUE AS png_sig_ok,
           CAST(doc_id % 640 + 16 AS BIGINT) AS width_px,
           CAST(doc_id % 480 + 16 AS BIGINT) AS height_px,
           CAST((doc_id % 640 + 16) * (doc_id % 480 + 16) AS BIGINT)
               AS n_pixels
    FROM documents
    """,
    ops=["multimodal-binary", "binary-codec"],
)
def png_header_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL binary codec round-trip, zero Python, zero libraries:
    per-document PNG bytes are SYNTHESIZED in-plan (signature + IHDR
    with big-endian dims derived from doc_id — multimodal.
    synthesize_png, hex assembly + unhex) and then PARSED back with
    binary substring/hex/conv (multimodal.png_header_dims). The oracle
    states the dims directly from the same derivation, so a hash match
    proves the byte-level encode→parse round-trip is the identity —
    the multimodal family's header-extraction step is not a stub.

    Scale shape: both steps are whole-stage-codegen'd column
    expressions over the scan — the 100 TB pattern for format/dimension
    sweeps over billions of stored images (no Arrow hop, no UDF)."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    dims = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 640 + 16).alias("width_px"),
        (F.col("doc_id") % 480 + 16).alias("height_px"),
    )
    media = multimodal.synthesize_png(dims)
    parsed = multimodal.png_header_dims(media)
    return parsed.select(
        "media_id",
        "n_bytes",
        "png_sig_ok",
        "width_px",
        "height_px",
        (F.col("width_px") * F.col("height_px")).alias("n_pixels"),
    )


_FH_ODD = "('1','3','5','7','9','b','d','f')"
_FH_BUCKET = " + ".join(
    f"{1 << k} * (CASE WHEN substr(h, {k + 1}, 1) IN {_FH_ODD} "
    "THEN 1 ELSE 0 END)"
    for k in range(6)
)


@register(
    "feature_hash_embeddings",
    f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS tok
        FROM documents
    ), hb AS (
        SELECT doc_id, md5(tok) AS h FROM toks
    ), comps AS (
        SELECT doc_id,
               CAST({_FH_BUCKET} AS INTEGER) AS bucket,
               CAST(SUM(CASE WHEN substr(h, 7, 1) IN {_FH_ODD}
                        THEN 1 ELSE -1 END) AS BIGINT) AS comp,
               COUNT(*) AS n_tok
        FROM hb GROUP BY doc_id, bucket
    ), dims AS (
        SELECT CAST(unnest(range(64)) AS INTEGER) AS d
    ), stats AS (
        SELECT doc_id, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               COUNT(*) AS nnz_buckets,
               CAST(SUM(comp * comp) AS BIGINT) AS norm2
        FROM comps GROUP BY doc_id
    ), vecs AS (
        SELECT s.doc_id, list(COALESCE(c.comp, 0) ORDER BY d.d) AS embedding
        FROM stats s CROSS JOIN dims d
        LEFT JOIN comps c ON c.doc_id = s.doc_id AND c.bucket = d.d
        GROUP BY s.doc_id
    )
    SELECT v.doc_id,
           array_to_string(v.embedding, ',') AS embedding_csv,
           s.n_tokens, s.nnz_buckets, s.norm2
    FROM vecs v JOIN stats s ON s.doc_id = v.doc_id
    """,
    ops=["embedding-generation", "feature-hashing", "text-vectorize"],
)
def feature_hash_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding GENERATION from raw text — the hashing trick
    (operators.text.feature_hash_embedding): every token md5-hashes to
    one of 64 signed buckets, the document vector is the exact signed
    count per bucket. The model-free vectorizer that links the text
    tables to the ANN family (HashingVectorizer semantics): no
    vocabulary build, no broadcast state, exact integers end to end —
    so the whole embedding MATRIX is oracle-checked element-wise.

    The internal operator returns ``embedding array<long>`` for
    composition; the REGISTERED relation stringifies it
    (``embedding_csv``) because top-level array columns cannot be
    canonicalized by hash-based result comparators (r9 driver red:
    "unhashable type: numpy.ndarray"). Element-wise exactness is
    preserved — long→string is lossless decimal both engines."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    emb = text.feature_hash_embedding(d, dim=64)
    return emb.select(
        "doc_id",
        F.concat_ws(",", F.col("embedding").cast("array<string>"))
        .alias("embedding_csv"),
        "n_tokens",
        "nnz_buckets",
        "norm2",
    )


@register(
    "cluster_aware_split",
    f"""
    WITH {_SHINGLES_CTE}, sigs AS (
        SELECT doc_id,
               {_MH_MINS}
        FROM sh GROUP BY doc_id
    ), bands AS (
        {_MH_BANDS}
    ), cands AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id
    ), verified AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS n_common
        FROM cands c
        JOIN sh ta ON ta.doc_id = c.id_a
        JOIN sh tb ON tb.doc_id = c.id_b AND tb.shingle = ta.shingle
        GROUP BY c.id_a, c.id_b
    ), pairs AS (
        SELECT v.id_a, v.id_b FROM verified v
        JOIN sizes sa ON sa.doc_id = v.id_a
        JOIN sizes sb ON sb.doc_id = v.id_b
        WHERE CAST(v.n_common AS DOUBLE)
              / (sa.set_size + sb.set_size - v.n_common) >= 0.5
    ), edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), reach(u, label) AS (
        SELECT u, u AS label FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.u
    ), comp AS (
        SELECT u AS doc_id, MIN(label) AS cluster_id
        FROM reach GROUP BY u
    ), roots AS (
        SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_root
        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    )
    SELECT doc_id, cluster_root,
           CASE WHEN CAST(('0x' || substring(
                    md5('split:' || CAST(cluster_root AS VARCHAR)), 1, 8))
                    AS BIGINT)
                    < CAST(FLOOR(0.2 * 4294967296) AS BIGINT)
                THEN 'holdout' ELSE 'train' END AS split
    FROM roots
    """.replace("WITH ", "WITH RECURSIVE ", 1),
    ops=["hash-split", "dedup-clusters", "split-leakage", "iterative"],
)
def cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FIX for what split_leakage_audit detects: a train/holdout
    split that cannot leak near-duplicates. Documents are clustered by
    connected components over the MinHash-LSH verified near-dup graph,
    the deterministic md5 hash-split (sampling.hash_bucket, 80/20) is
    decided per CLUSTER ROOT, and every member inherits it — so a
    near-dup pair can never straddle the boundary. Singletons (no
    near-dup) root to themselves and split exactly as the naive hash
    split would.

    Scale shape: inherits the LSH pipeline's bounds; the split itself
    is one map-side hash of the root — no extra shuffle beyond the
    cluster join. The test asserts zero cross-split pairs under this
    split while the naive audit reports >0 on the same corpus."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    from ..operators.sampling import HASH_SPACE, hash_bucket

    pairs = dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b")
    comp = dedup.connected_components(pairs)
    roots = (
        d.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias(
                "cluster_root"
            ),
        )
    )
    thr = int(0.2 * HASH_SPACE)
    split = (
        F.when(
            hash_bucket(F.col("cluster_root"), "split") < F.lit(thr),
            F.lit("holdout"),
        )
        .otherwise(F.lit("train"))
    )
    return roots.withColumn("split", split)


@register(
    "wilcoxon_signed_rank_purchase_vs_view",
    """
    WITH per AS (
        SELECT user_id,
               SUM(CASE WHEN event_type = 'view'
                        THEN CAST(value AS DECIMAL(18,6)) END) AS sv,
               SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(value AS DECIMAL(18,6)) END) AS sp,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS nv,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                        END) AS BIGINT) AS np
        FROM events WHERE event_type IN ('view', 'purchase')
        GROUP BY user_id
    ), diffs AS (
        -- sign(mean_p - mean_v) = sign(sp*nv - sv*np) exactly; the
        -- rank MAGNITUDE is the mean difference itself at 1e-6
        -- fixed point: |d| carries scale 6, so |d|*1e6 // (nv*np) is
        -- floor(|mean_p - mean_v| * 1e6) in exact integer arithmetic
        SELECT sp * nv - sv * np AS d,
               CAST(ABS(sp * nv - sv * np) * 1000000 AS HUGEINT)
                   // (nv * np) AS ad
        FROM per WHERE nv > 0 AND np > 0
    ), nz AS (
        SELECT d, ad FROM diffs WHERE d <> 0
    ), ranked AS (
        SELECT d,
               2 * RANK() OVER (ORDER BY ad)
                 + COUNT(*) OVER (PARTITION BY ad) - 1 AS dr
        FROM nz
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN d > 0 THEN dr ELSE 0 END) AS BIGINT)
               AS w_plus_x2,
           CAST(SUM(CASE WHEN d < 0 THEN dr ELSE 0 END) AS BIGINT)
               AS w_minus_x2,
           CASE WHEN SUM(dr) > 0 THEN
               CAST(SUM(CASE WHEN d > 0 THEN dr ELSE -dr END) AS DOUBLE)
                   / CAST(SUM(dr) AS DOUBLE) END AS signed_rank_effect
    FROM ranked
    """,
    ops=["stats-rank", "ab-test", "A3"],
)
def wilcoxon_signed_rank_purchase_vs_view(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Wilcoxon signed-rank — the PAIRED nonparametric test (each user
    is their own control): per user, does purchase value run above
    view value? The paired difference d_i = mean_p − mean_v keeps its
    SIGN exact via the decimal cross-product (sign(sp·nv − sv·np));
    its rank MAGNITUDE is the mean difference itself, represented as
    floor(|d_i|·1e6) by exact integer division (|sp·nv − sv·np|·1e6
    div nv·np — never a float mean), i.e. fixed point at the input
    data's own 1e-6 resolution. Ranking the raw cross-product would
    weight each user by nv·np, a count-weighted variant, not the
    Wilcoxon statistic. Doubled average ranks of |d| make W⁺/W⁻ exact
    BIGINTs; the effect size (W⁺−W⁻)/(W⁺+W⁻) is one division of exact
    integers. Completes the A/B family: Welch (parametric), CUPED
    (variance-reduced), Mann-Whitney (independent), Wilcoxon (paired).

    Scale note: the |d| rank is a GLOBAL window, but its input is the
    per-user diff relation — one row per paired user, already reduced
    from the event volume — so the single-partition sort is bounded by
    the user count, the same budget as the global-rank family."""
    e = _t(spark, sf_dir, "events")
    per = (
        e.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "view",
                    F.col("value").cast(DEC6),
                )
            ).alias("sv"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.col("value").cast(DEC6),
                )
            ).alias("sp"),
            F.sum(
                F.when(F.col("event_type") == "view", 1).otherwise(0)
            ).cast("long").alias("nv"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).cast("long").alias("np"),
        )
    )
    diffs = per.filter((F.col("nv") > 0) & (F.col("np") > 0)).select(
        (F.col("sp") * F.col("nv") - F.col("sv") * F.col("np")).alias("d"),
        F.expr(
            "CAST(ABS(sp * nv - sv * np) * 1000000 AS DECIMAL(38,0))"
            " div (nv * np)"
        ).alias("ad"),
    )
    nz = diffs.filter(F.col("d") != 0)
    wr = Window.orderBy("ad")
    wt = Window.partitionBy("ad")
    ranked = nz.select(
        "d",
        (2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1)
        .cast("long")
        .alias("dr"),
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("d") > 0, F.col("dr")).otherwise(0))
        .cast("long")
        .alias("w_plus_x2"),
        F.sum(F.when(F.col("d") < 0, F.col("dr")).otherwise(0))
        .cast("long")
        .alias("w_minus_x2"),
        F.sum(
            F.when(F.col("d") > 0, F.col("dr")).otherwise(-F.col("dr"))
        )
        .cast("long")
        .alias("_signed"),
        F.sum("dr").cast("long").alias("_total"),
    )
    return agg.select(
        "n_pairs",
        "w_plus_x2",
        "w_minus_x2",
        F.when(
            F.col("_total") > 0,
            F.col("_signed").cast("double") / F.col("_total"),
        ).alias("signed_rank_effect"),
    )


@register(
    "mannwhitney_value_by_event_type",
    """
    WITH pairs AS (
        SELECT unnest(list_value('click','error','purchase','signup'))
                   AS pair
    ), pool AS (
        SELECT event_type AS pair, 1 AS grp, value
        FROM events WHERE event_type <> 'view'
        UNION ALL
        SELECT p.pair, 0 AS grp, e.value
        FROM events e CROSS JOIN pairs p
        WHERE e.event_type = 'view'
    ), ranked AS (
        SELECT pair, grp,
               2 * RANK() OVER (PARTITION BY pair ORDER BY value)
                 + COUNT(*) OVER (PARTITION BY pair, value) - 1 AS dr
        FROM pool
    ), sums AS (
        SELECT pair,
               CAST(SUM(CASE WHEN grp = 1 THEN dr ELSE 0 END) AS BIGINT)
                   AS r1_x2,
               CAST(SUM(grp) AS BIGINT) AS n1,
               CAST(SUM(1 - grp) AS BIGINT) AS n2
        FROM ranked GROUP BY pair
    )
    SELECT pair AS event_type, n1, n2,
           CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           CASE WHEN n1 * n2 > 0
                THEN CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE)
                     / CAST(n1 * n2 AS DOUBLE)
                     - CAST(1 AS DOUBLE)
           END AS rank_biserial
    FROM sums
    """,
    ops=["stats-rank", "ab-test", "A3"],
)
def mannwhitney_value_by_event_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mann-Whitney U — the NONPARAMETRIC arm of the A/B family
    (ab_test_welch/ab_test_cuped assume normal-ish means; U compares
    whole distributions): each non-view event type is tested against
    the 'view' baseline on pooled value ranks. Doubled average ranks
    keep everything integer under ties, so U is surfaced exactly as
    2·U1 (a BIGINT) together with the rank-biserial effect size
    2U1/(n1·n2) − 1 (+1 when the arm fully dominates the baseline),
    a division of exact integers. The view baseline
    replicates once per comparison via an explode — one pooled rank
    window per pair, no non-equi join."""
    e = _t(spark, sf_dir, "events")
    arms = ("click", "error", "purchase", "signup")
    arm = e.filter(F.col("event_type") != "view").select(
        F.col("event_type").alias("pair"),
        F.lit(1).alias("grp"),
        "value",
    )
    base = e.filter(F.col("event_type") == "view").select(
        F.explode(F.array(*[F.lit(t) for t in arms])).alias("pair"),
        F.lit(0).alias("grp"),
        "value",
    )
    pool = arm.unionByName(base)
    wr = Window.partitionBy("pair").orderBy("value")
    wt = Window.partitionBy("pair", "value")
    ranked = pool.select(
        "pair",
        "grp",
        (2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1)
        .cast("long")
        .alias("dr"),
    )
    sums = ranked.groupBy("pair").agg(
        F.sum(F.when(F.col("grp") == 1, F.col("dr")).otherwise(0))
        .cast("long")
        .alias("r1_x2"),
        F.sum("grp").cast("long").alias("n1"),
        F.sum(1 - F.col("grp")).cast("long").alias("n2"),
    )
    u1_x2 = (F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)).cast("long")
    return sums.select(
        F.col("pair").alias("event_type"),
        "n1",
        "n2",
        u1_x2.alias("u1_x2"),
        F.when(
            F.col("n1") * F.col("n2") > 0,
            u1_x2.cast("double")
            / (F.col("n1") * F.col("n2")).cast("double")
            - F.lit(1.0),
        ).alias("rank_biserial"),
    )


__all__ = [n for n in globals() if not n.startswith("__")]
