"""Query registry — part 4/8 of the mechanical queries.py split.

Contiguous slice of the original module; see queries/_core.py for
the chaining scheme. Do not reorder across parts — registration
order is the driver-window rotation order.
"""

from __future__ import annotations

from ._p03 import *  # noqa: F401,F403



# =====================================================================
# Round-5 continuation: corpus distributional statistics (diversity,
# Zipf, entropy, self-trained bigram-LM scoring) and exact-integer
# distributed linear algebra (Gram/power-iteration, Lloyd step).
# =====================================================================


@register(
    "corpus_ngram_diversity",
    """
    WITH w AS (
        SELECT source,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS words
        FROM documents
    ), uni AS (
        SELECT source, unnest(words) AS tok FROM w
    ), u AS (
        SELECT source, COUNT(*) AS n_tokens,
               CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_uni
        FROM uni GROUP BY source
    ), bge AS (
        SELECT source, p.w1 AS w1, p.w2 AS w2 FROM (
            SELECT source, unnest(list_transform(
                       range(0, len(words) - 1),
                       i -> struct_pack(w1 := words[i+1], w2 := words[i+2])
                   )) AS p
            FROM w WHERE len(words) >= 2)
    ), b AS (
        SELECT source, COUNT(*) AS n_bigrams,
               CAST(COUNT(DISTINCT w1 || ' ' || w2) AS BIGINT) AS n_distinct_bi
        FROM bge GROUP BY source
    )
    SELECT u.source, n_tokens, n_distinct_uni, n_bigrams, n_distinct_bi,
           CAST(FLOOR(CAST(n_distinct_uni AS DOUBLE) / n_tokens * 1000000)
                AS BIGINT) AS distinct1_fp6,
           CAST(FLOOR(CAST(n_distinct_bi AS DOUBLE) / n_bigrams * 1000000)
                AS BIGINT) AS distinct2_fp6
    FROM u JOIN b ON b.source = u.source
    """,
    ops=["text-diversity", "A3", "A-distinct"],
)
def corpus_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-1/distinct-2 per source (operators.corpus_stats) — the
    templated-text collapse detector. Two token/bigram hash aggs with
    per-source distincts; ratios are integer-exact inputs to one final
    double each."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    return corpus_stats.ngram_diversity(d)


@register(
    "corpus_zipf_slope",
    """
    WITH toks AS (
        SELECT source, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents
    ), tk AS (SELECT source, tok FROM toks WHERE tok <> ''),
    vocab AS (
        SELECT source, tok, COUNT(*) AS freq FROM tk GROUP BY source, tok
    ), ranked AS (
        SELECT source, freq,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY freq DESC, tok) AS rank
        FROM vocab QUALIFY rank <= 100
    ), pts AS (
        SELECT source,
               CAST(FLOOR(ln(CAST(rank AS DOUBLE)) * 1000000000) AS BIGINT) AS x,
               CAST(FLOOR(ln(CAST(freq AS DOUBLE)) * 1000000000) AS BIGINT) AS y
        FROM ranked
    ), s AS (
        SELECT source, COUNT(*) AS n_terms,
               SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(x AS HUGEINT) * y) AS sxy
        FROM pts GROUP BY source
    )
    SELECT source, n_terms,
           CAST(FLOOR(
               (CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * 1000000) AS BIGINT) AS zipf_slope_fp6
    FROM s WHERE n_terms >= 2
    """,
    ops=["text-zipf", "stats-ols", "W2"],
)
def corpus_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency exponent per source (top-100 terms): OLS of
    ln(freq) on ln(rank) under the exact-moment discipline — libm only
    on integer args, fixed-point BIGINT terms, DECIMAL(38,0) moments,
    one final double ratio. The window runs over the vocabulary
    aggregate, never the corpus."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    return corpus_stats.zipf_slope(d, top_n=100)


@register(
    "doc_char_entropy",
    """
    WITH ch AS (
        SELECT doc_id,
               substr(text, CAST(unnest(range(1, length(text) + 1)) AS INTEGER), 1) AS ch
        FROM documents WHERE length(text) > 0
    ), cc AS (
        SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY doc_id, ch
    ), agg AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_chars_counted,
               SUM(CAST(FLOOR(ln(CAST(c AS DOUBLE)) * 1000000000) AS BIGINT) * c)
                   AS s
        FROM cc GROUP BY doc_id
    )
    SELECT doc_id, n_chars_counted,
           CAST(FLOOR(
               (ln(CAST(n_chars_counted AS DOUBLE))
                  - CAST(s AS DOUBLE) / 1000000000 / n_chars_counted)
               * 1000000) AS BIGINT) AS entropy_fp6
    FROM agg
    """,
    ops=["text-entropy", "A3"],
)
def doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon character entropy via the exact
    decomposition H = ln(n) − (Σ c·ln c)/n (operators.corpus_stats) —
    the binary-junk/mojibake detector. Char explode is linear in
    corpus bytes; counts collapse to ≤|alphabet| rows per doc before
    any shuffle."""
    d = _t(spark, sf_dir, "documents", fanout=True).filter(
        F.length("text") > 0
    )
    return corpus_stats.char_entropy(d)


@register(
    "doc_bigram_logprob",
    """
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS words
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
    ), pc AS (
        SELECT w1, w2, SUM(m) AS c2 FROM pd GROUP BY w1, w2
    ), wc AS (
        SELECT w1, SUM(c2) AS c1 FROM pc GROUP BY w1
    ), sc AS (
        SELECT pd.doc_id, pd.m,
               CAST(FLOOR((ln(CAST(pc.c2 AS DOUBLE)) - ln(CAST(wc.c1 AS DOUBLE)))
                          * 1000000000) AS BIGINT) AS t
        FROM pd
        JOIN pc ON pc.w1 = pd.w1 AND pc.w2 = pd.w2
        JOIN wc ON wc.w1 = pd.w1
    ), agg AS (
        SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_bigrams,
               CAST(SUM(m * t) AS BIGINT) AS sum_logp_fp9
        FROM sc GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, sum_logp_fp9,
           CAST(FLOOR(CAST(sum_logp_fp9 AS DOUBLE) / n_bigrams / 1000.0)
                AS BIGINT) AS avg_logp_fp6
    FROM agg
    """,
    ops=["text-lm-score", "A3", "J1-adjacent"],
)
def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality scoring: each document's mean ln P(w2|w1)
    under the corpus's own bigram LM, training and scoring fused in
    one lazy plan (operators.corpus_stats.bigram_logprob). LM join is
    vocabulary-scaled and NOT broadcast (billions of bigrams at 100
    TB); probe side pre-combines map-side on (doc, bigram)."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    return corpus_stats.bigram_logprob(d)


@register(
    "embedding_gram_power",
    """
    WITH dims AS (SELECT CAST(unnest(range(64)) AS INTEGER) AS i),
    fx AS (
        SELECT e.vec_id, d.i, CAST(e.embedding[d.i + 1] AS DOUBLE) AS v
        FROM embeddings e, dims d
    ), g AS (
        SELECT a.i AS i, b.i AS j,
               SUM(CAST(FLOOR(a.v * b.v * 10000) AS BIGINT)) AS g
        FROM fx a JOIN fx b ON a.vec_id = b.vec_id
        GROUP BY a.i, b.i
    ), v1 AS (
        SELECT i, CAST(SUM(g) AS BIGINT) AS v FROM g GROUP BY i
    ), w AS (
        SELECT g.i, SUM(CAST(g.g AS HUGEINT) * v.v) AS w
        FROM g JOIN v1 v ON v.i = g.j GROUP BY g.i
    ), nd AS (
        SELECT SUM(CAST(v.v AS HUGEINT) * w.w) AS num,
               SUM(CAST(v.v AS HUGEINT) * v.v) AS den
        FROM v1 v JOIN w ON w.i = v.i
    )
    SELECT v.i, v.v AS v1,
           CAST(FLOOR(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1000000)
                AS BIGINT) AS rayleigh_fp6
    FROM v1 v CROSS JOIN nd
    """,
    ops=["linalg-gram", "linalg-power-iteration", "mapInPandas"],
)
def embedding_gram_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA diagnostic (operators.linalg): fixed-point Gram
    matrix accumulated per partition via Arrow `mapInPandas` (each
    task emits ≤ d² rows — the shuffle is O(partitions·d²), never
    O(rows)), then one power-iteration step from the ones vector with
    DECIMAL(38,0) moments. Returns the dominant-direction profile
    (i, v1_i) plus the Rayleigh dominant-eigenvalue estimate."""
    e = _t(spark, sf_dir, "embeddings")
    gram = linalg.gram_fixed_point(e)
    return linalg.power_iteration_once(gram)


@register(
    "embedding_lloyd_step",
    """
    WITH dims AS (SELECT CAST(unnest(range(64)) AS INTEGER) AS i),
    fx AS (
        SELECT e.vec_id, e.label, d.i, CAST(e.embedding[d.i + 1] AS DOUBLE) AS v
        FROM embeddings e, dims d
    ), cent AS (
        SELECT label AS lbl, i,
               SUM(CAST(FLOOR(v * 1000000) AS BIGINT)) AS s,
               COUNT(*) AS n
        FROM fx GROUP BY lbl, i
    ), cv AS (
        SELECT lbl, i, CAST(s AS DOUBLE) / (n * 1000000.0) AS c FROM cent
    ), dist AS (
        SELECT f.vec_id, c.lbl,
               SUM(CAST(FLOOR((f.v - c.c) * (f.v - c.c) * 100000000) AS BIGINT))
                   AS d2
        FROM fx f JOIN cv c ON c.i = f.i
        GROUP BY f.vec_id, c.lbl
    ), best AS (
        SELECT vec_id, lbl, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, lbl) AS rn
        FROM dist
    )
    SELECT lbl AS new_label, COUNT(*) AS n_points,
           CAST(SUM(d2) AS BIGINT) AS inertia_fp8
    FROM best WHERE rn = 1 GROUP BY new_label
    """,
    ops=["ml-kmeans-step", "A3", "broadcast-dim"],
)
def embedding_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd (k-means) reassignment seeded from stored labels
    (operators.linalg.lloyd_step): exact fixed-point centroid means ⇒
    bit-identical centroid doubles, integer fp8 squared distances ⇒
    tie-safe argmin, k·d centroid table broadcast, assignment fully
    map-side. The cluster-drift/IVF-training inner loop."""
    e = _t(spark, sf_dir, "embeddings")
    return linalg.lloyd_step(e)


@register(
    "heavy_hitters_cms",
    """
    WITH rs AS (SELECT unnest(range(4)) AS r),
    cells AS (
        SELECT rs.r,
               CAST(('0x'||substr(md5('cms' || rs.r || ':' || CAST(user_id AS VARCHAR)),1,8))
                    AS BIGINT) % 256 AS col
        FROM events, rs
    ), sk AS (
        SELECT r, col, COUNT(*) AS c FROM cells GROUP BY r, col
    ), top AS (
        SELECT user_id, COUNT(*) AS exact_n FROM events GROUP BY user_id
        ORDER BY exact_n DESC, user_id LIMIT 20
    ), probes AS (
        SELECT t.user_id, t.exact_n, rs.r,
               CAST(('0x'||substr(md5('cms' || rs.r || ':' || CAST(t.user_id AS VARCHAR)),1,8))
                    AS BIGINT) % 256 AS col
        FROM top t, rs
    )
    SELECT user_id, exact_n,
           CAST(MIN(c) AS BIGINT) AS cms_est,
           CAST(MIN(c) - exact_n AS BIGINT) AS overcount
    FROM probes JOIN sk USING (r, col)
    GROUP BY user_id, exact_n
    """,
    ops=["sketch-countmin", "A3", "topk"],
)
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy-hitter verification (operators.sketches): a
    depth-4 × width-256 CMS over event user_ids, point-estimating the
    exact top-20 users. CMS never undercounts, so `overcount` ≥ 0 row
    by row — and because the sketch is seeded-md5 deterministic, the
    oracle reproduces every cell and estimate EXACTLY (no error-bound
    booleans needed, unlike library sketches). The sketch is
    depth·width cells at any input size: mergeable map-side, broadcast
    on the probe side."""
    e = _t(spark, sf_dir, "events")
    sketch = sketches.cms_build(e, "user_id", depth=4, width=256)
    top = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "user_id")
        .limit(20)
    )
    est = sketches.cms_estimate(
        sketch, top.select("user_id"), "user_id", depth=4, width=256
    )
    return top.join(est, "user_id").select(
        "user_id",
        "exact_n",
        F.col("cms_est").cast("long").alias("cms_est"),
        (F.col("cms_est") - F.col("exact_n")).cast("long").alias("overcount"),
    )


@register(
    "bloom_prefilter_orders",
    """
    WITH ks AS (SELECT unnest(range(3)) AS kk),
    members AS (
        SELECT DISTINCT c_custkey FROM customer WHERE c_acctbal >= 9000
    ), bits AS (
        SELECT DISTINCT
               CAST(('0x'||substr(md5('bloom' || ks.kk || ':' || CAST(c_custkey AS VARCHAR)),1,8))
                    AS BIGINT) % 4096 AS bit
        FROM members, ks
    ), probe_keys AS (
        SELECT DISTINCT o_custkey FROM orders
    ), hits AS (
        SELECT p.o_custkey, COUNT(*) AS nhit
        FROM (
            SELECT pk.o_custkey,
                   CAST(('0x'||substr(md5('bloom' || ks.kk || ':' || CAST(pk.o_custkey AS VARCHAR)),1,8))
                        AS BIGINT) % 4096 AS bit
            FROM probe_keys pk, ks
        ) p JOIN bits USING (bit)
        GROUP BY p.o_custkey
    ), flags AS (
        SELECT pk.o_custkey,
               COALESCE(h.nhit, 0) = 3 AS pass_bloom,
               m.c_custkey IS NOT NULL AS is_member
        FROM probe_keys pk
        LEFT JOIN hits h ON h.o_custkey = pk.o_custkey
        LEFT JOIN members m ON m.c_custkey = pk.o_custkey
    ), agg AS (
        SELECT COUNT(*) AS n_probe_keys,
               CAST(SUM(CASE WHEN pass_bloom THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_bloom,
               CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_true_members,
               CAST(SUM(CASE WHEN pass_bloom AND NOT is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
        FROM flags
    )
    SELECT n_probe_keys, n_pass_bloom, n_true_members, n_false_pos,
           CAST(FLOOR(CAST(n_false_pos AS DOUBLE)
                      / GREATEST(n_probe_keys - n_true_members, 1) * 1000000)
                AS BIGINT) AS fp_rate_fp6
    FROM agg
    """,
    ops=["sketch-bloom", "join-prefilter"],
)
def bloom_prefilter_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered join audit (operators.sketches): a 4096-bit /
    k=3 filter over rich customers (c_acctbal ≥ 9000) probes the
    distinct order custkeys, counting passes, true members, and false
    positives — the exact numbers that justify (or veto) shipping a
    build-side Bloom filter before a 100 TB probe shuffle. One-sided
    by construction: every true member passes, so n_pass ≥ n_true and
    the oracle checks the FP count bit-exactly."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    members = c.filter(F.col("c_acctbal") >= 9000).select("c_custkey").distinct()
    bits = sketches.bloom_build(members, "c_custkey", n_bits=4096, k=3)
    probe_keys = o.select("o_custkey").distinct()
    passing = sketches.bloom_pass_keys(
        o, "o_custkey", bits, n_bits=4096, k=3
    ).withColumn("pass_bloom", F.lit(True))
    flags = (
        probe_keys.join(F.broadcast(passing), "o_custkey", "left")
        .join(
            F.broadcast(
                members.withColumn("is_member", F.lit(True)).withColumnRenamed(
                    "c_custkey", "o_custkey"
                )
            ),
            "o_custkey",
            "left",
        )
        .select(
            F.coalesce("pass_bloom", F.lit(False)).alias("pass_bloom"),
            F.coalesce("is_member", F.lit(False)).alias("is_member"),
        )
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n_probe_keys"),
        F.sum(F.when(F.col("pass_bloom"), 1).otherwise(0))
        .cast("long")
        .alias("n_pass_bloom"),
        F.sum(F.when(F.col("is_member"), 1).otherwise(0))
        .cast("long")
        .alias("n_true_members"),
        F.sum(F.when(F.col("pass_bloom") & ~F.col("is_member"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_pos"),
    )
    return agg.select(
        "n_probe_keys",
        "n_pass_bloom",
        "n_true_members",
        "n_false_pos",
        F.floor(
            F.col("n_false_pos").cast("double")
            / F.greatest(
                F.col("n_probe_keys") - F.col("n_true_members"), F.lit(1)
            )
            * 1000000
        )
        .cast("long")
        .alias("fp_rate_fp6"),
    )


@register(
    "upsert_version_diff",
    """
    WITH v1 AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 2 = 0
    ), batch AS (
        SELECT o_orderkey, 'R' AS o_orderstatus, o_totalprice + 1.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 6 = 0
    ), v2 AS (
        SELECT t.o_orderkey, t.o_orderstatus, t.o_totalprice
        FROM v1 t
        WHERE NOT EXISTS (SELECT 1 FROM batch b WHERE b.o_orderkey = t.o_orderkey)
        UNION ALL
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM batch
    )
    SELECT CASE WHEN v1.o_orderkey IS NULL THEN 'added'
                WHEN v2.o_orderkey IS NULL THEN 'removed'
                WHEN v1.o_orderstatus IS DISTINCT FROM v2.o_orderstatus
                     OR v1.o_totalprice IS DISTINCT FROM v2.o_totalprice
                THEN 'changed' ELSE 'unchanged' END AS change_type,
           COUNT(*) AS n_keys,
           CAST(SUM(COALESCE(v1.o_orderkey, v2.o_orderkey)) AS BIGINT)
               AS key_checksum
    FROM v1 FULL OUTER JOIN v2 USING (o_orderkey)
    GROUP BY 1
    """,
    ops=["K2", "time-travel", "cdc-snapshot-diff"],
)
def upsert_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed between two committed versions of the
    versioned upsert table (Delta CDF semantics, no jars): commit v1,
    apply a replace-mode correction batch (→ v2), time-travel-read
    BOTH snapshots by name, and run cdc.snapshot_diff between them.
    Proves commits are immutable AND the version history supports
    O(|delta|) incremental downstream consumption. The oracle
    recomputes both versions' contents relationally from the base
    table. (No 'removed' rows by construction: upsert never deletes.)"""
    import os

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    root = scratch_dir("vdiff", sf_dir, clean=True)
    v1 = upsert.write_upsert_parquet(
        root, o.filter(F.col("o_orderkey") % 2 == 0), ["o_orderkey"]
    )
    batch = o.filter(F.col("o_orderkey") % 6 == 0).select(
        "o_orderkey",
        F.lit("R").alias("o_orderstatus"),
        (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
    )
    v2 = upsert.write_upsert_parquet(root, batch, ["o_orderkey"], mode="replace")
    old = spark.read.parquet(os.path.join(root, v1))
    new = spark.read.parquet(os.path.join(root, v2))
    diff = cdc.snapshot_diff(
        old, new, keys=["o_orderkey"], compare_cols=["o_orderstatus", "o_totalprice"]
    )
    return diff.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("o_orderkey").cast("long").alias("key_checksum"),
    )


@register(
    "holt_forecast_region_revenue",
    """
    WITH RECURSIVE m AS (
        SELECT r.r_name, date_trunc('month', o.o_orderdate) AS mon,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, mon
    ), s AS (
        SELECT r_name, y,
               ROW_NUMBER() OVER (PARTITION BY r_name ORDER BY mon) AS t,
               COUNT(*) OVER (PARTITION BY r_name) AS n
        FROM m
    ), rec AS (
        SELECT r_name, t, n, y, y AS level, CAST(0 AS DOUBLE) AS trend
        FROM s WHERE t = 1
        UNION ALL
        SELECT s.r_name, s.t, s.n, s.y,
               0.5 * s.y + 0.5 * (rec.level + rec.trend) AS level,
               0.25 * ((0.5 * s.y + 0.5 * (rec.level + rec.trend)) - rec.level)
                   + 0.75 * rec.trend AS trend
        FROM rec JOIN s ON s.r_name = rec.r_name AND s.t = rec.t + 1
    )
    SELECT r_name, CAST(n AS BIGINT) AS n_obs,
           CAST(FLOOR(level * 1000000) AS BIGINT) AS level_fp6,
           CAST(FLOOR(trend * 1000000) AS BIGINT) AS trend_fp6,
           CAST(FLOOR((level + 7 * trend) * 1000000) AS BIGINT) AS forecast_fp6
    FROM rec WHERE t = n
    """,
    ops=["timeseries-holt", "applyInPandas-grouped-map", "J1"],
)
def holt_forecast_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt level+trend smoothing of monthly regional revenue with a
    7-month-ahead forecast (operators.timeseries.holt_linear_pandas)
    — the grouped-map `applyInPandas` exemplar: two COUPLED
    recursions that no bounded window unrolls, run as an Arrow-batched
    Python loop per key. Still bit-exact under the oracle gate: the
    DuckDB twin replays the identical IEEE operation sequence as a
    recursive CTE (α=1/2, β=1/4 are exact binary fractions)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    monthly = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")),
               F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_regionkey")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r.select("r_regionkey", "r_name")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", F.date_trunc("month", "o_orderdate").alias("mon"))
        .agg(F.sum(_dec2("o_totalprice")).cast("double").alias("y"))
    )
    return timeseries.holt_linear_pandas(
        monthly, "r_name", "mon", "y", alpha=0.5, beta=0.25, horizon=7
    )


@register(
    "props_variant_histogram",
    """
    SELECT CAST(FLOOR(k / 10.0) AS BIGINT) AS k_bucket,
           COUNT(*) AS n_events,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_event_types
    FROM (
        SELECT event_type,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        FROM events
    )
    WHERE k IS NOT NULL
    GROUP BY k_bucket
    """,
    ops=["variant-semistructured", "A3"],
)
def props_variant_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path for semi-structured payloads: parse the
    JSON props column ONCE into a variant (`try_parse_json` —
    malformed rows become NULL, never a crash) and extract typed
    fields with `variant_get`. At scale this beats repeated
    get_json_object string re-parsing: the variant's binary encoding
    is parsed a single time per row however many fields are read —
    the modern lakehouse answer to schema-on-read columns. The
    json_props_extract query keeps the classic single-field
    get_json_object form; this one buckets the extracted metric."""
    e = _t(spark, sf_dir, "events")
    v = F.try_parse_json(F.col("props"))
    k = F.variant_get(v, "$.k", "int")
    return (
        e.select("event_type", k.alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy(
            F.floor(F.col("k") / 10.0).cast("long").alias("k_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("long").alias("sum_k"),
            F.count_distinct("event_type").cast("long").alias("n_event_types"),
        )
    )


@register(
    "salted_join_user_enrichment",
    """
    WITH prof AS (
        SELECT user_id, COUNT(*) AS user_total FROM events GROUP BY user_id
    )
    SELECT e.event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           CAST(SUM(p.user_total) AS BIGINT) AS sum_user_total
    FROM events e JOIN prof p USING (user_id)
    GROUP BY e.event_type
    """,
    ops=["skew-salted-join", "A3"],
)
def salted_join_user_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted-JOIN twin of salted_event_totals, through the oracle
    gate: enrich events with a per-user profile via
    operators.skew.salted_join (probe side salted, build side
    replicated per salt, join on (key, salt)) — the hand-rolled remedy
    for the middle regime where one hot user key would pin a reducer
    but the build side is too big to broadcast. The salt column is
    internal; the joined ROW SET is identical to the plain join, which
    is exactly what the oracle asserts."""
    e = _t(spark, sf_dir, "events")
    prof = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("user_total"))
    joined = skew.salted_join(
        e.select("user_id", "event_type", "value"), prof, on=["user_id"],
        salt_buckets=8,
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(DEC6)).cast("double").alias("total_value"),
        F.sum("user_total").cast("long").alias("sum_user_total"),
    )


@register(
    "events_range_frame_sum",
    """
    SELECT event_id, event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
               PARTITION BY event_type ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS hour_back_sum,
           CAST(COUNT(*) OVER (
               PARTITION BY event_type ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS hour_back_n
    FROM events
    WHERE event_id % 20 = 0
    """,
    ops=["window-range-frame", "time-series"],
)
def events_range_frame_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame on event TIME (not row position): per event,
    the sum/count of same-type events in the trailing hour — the
    time-based sliding metric ROWS frames cannot express when events
    are irregular. Ordered on exact epoch microseconds (integer
    range arithmetic, no timestamp-interval float), value summed as
    DECIMAL before one double cast. Partition-parallel per event_type;
    the 5%-slice keeps the checked output bounded while the window
    still computes over real irregular spacing.

    RANGE frames allow exactly ONE sort key (both engines) — no
    tiebreak needed anyway, because RANGE peers (equal timestamps)
    share the same frame and therefore the same sum by definition."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") % 20 == 0)
    us = F.unix_micros("ts")
    w = (
        Window.partitionBy("event_type")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return e.select(
        "event_id",
        "event_type",
        F.sum(F.col("value").cast(DEC6)).over(w).cast("double").alias("hour_back_sum"),
        F.count(F.lit(1)).over(w).cast("long").alias("hour_back_n"),
    )


@register(
    "zorder_clustering_report",
    """
    WITH base AS (
        SELECT CAST(o_custkey % 65536 AS BIGINT) AS a,
               CAST(date_diff('day', DATE '1970-01-01', o_orderdate) % 65536
                    AS BIGINT) AS b
        FROM orders
    ), st1 AS (
        SELECT a, b,
               (a | (a << 8)) & 71777214294589695 AS a1,
               (b | (b << 8)) & 71777214294589695 AS b1
        FROM base
    ), st2 AS (
        SELECT *, (a1 | (a1 << 4)) & 1085102592571150095 AS a2,
                  (b1 | (b1 << 4)) & 1085102592571150095 AS b2 FROM st1
    ), st3 AS (
        SELECT *, (a2 | (a2 << 2)) & 3689348814741910323 AS a3,
                  (b2 | (b2 << 2)) & 3689348814741910323 AS b3 FROM st2
    ), st4 AS (
        SELECT *, (a3 | (a3 << 1)) & 6148914691236517205 AS a4,
                  (b3 | (b3 << 1)) & 6148914691236517205 AS b4 FROM st3
    ), z AS (
        SELECT a, b, a4 | (b4 << 1) AS zkey FROM st4
    )
    SELECT zkey >> 24 AS z_bucket,
           COUNT(*) AS n_rows,
           MIN(a) AS min_a, MAX(a) AS max_a,
           MIN(b) AS min_b, MAX(b) AS max_b,
           MAX(a) - MIN(a) AS span_a,
           MAX(b) - MIN(b) AS span_b
    FROM z GROUP BY z_bucket
    """,
    ops=["zorder-clustering", "data-skipping", "A3"],
)
def zorder_clustering_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering audit over orders keyed by
    (custkey, order-day): interleave the low 16 bits of both
    dimensions (operators.zorder — 5-step parallel-prefix spread,
    whole-stage codegen, no UDF), bucket by the top z-key bits (each
    bucket ≈ one file under an OPTIMIZE-ZORDER-style rewrite), and
    report per-bucket min/max/span of BOTH dimensions — the exact
    file statistics a reader's skipping logic would prune with.
    Tight spans on both axes = 2-D pruning works; a linear sort
    would show one tight span and one table-wide span."""
    o = _t(spark, sf_dir, "orders")
    proj = o.select(
        (F.col("o_custkey") % 65536).cast("long").alias("a"),
        (
            F.datediff(F.col("o_orderdate"), F.to_date(F.lit("1970-01-01")))
            % 65536
        )
        .cast("long")
        .alias("b"),
    )
    return zorder.zorder_bucket_stats(proj, "a", "b", bucket_shift=24)


@register(
    "user_cooccurrence_pairs",
    """
    WITH uh AS (
        SELECT DISTINCT user_id, date_trunc('hour', ts) AS hr FROM events
    ), sized AS (
        SELECT hr FROM uh GROUP BY hr HAVING COUNT(*) <= 100
    ), ok AS (
        SELECT u.user_id, u.hr FROM uh u JOIN sized s ON s.hr = u.hr
    )
    SELECT a.user_id AS u1, b.user_id AS u2, COUNT(*) AS n_shared_hours
    FROM ok a JOIN ok b ON a.hr = b.hr AND a.user_id < b.user_id
    GROUP BY u1, u2
    ORDER BY n_shared_hours DESC, u1, u2
    LIMIT 25
    """,
    ops=["graph-bipartite-projection", "A3", "self-join-bucketed"],
)
def user_cooccurrence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite projection user×hour → user-user co-activity edges
    (the 'who is online together' graph): distinct (user, hour)
    incidences, per-hour self-join with a canonical u1 < u2 edge, top
    25 pairs by shared hours. The self-join is quadratic IN THE
    BUCKET, so hot buckets are dropped by a size threshold first
    (≤ 100 active users/hour here) — the same frequency-cap discipline
    as dedup_jaccard_df_capped: at 100 TB an uncapped hot hour is the
    whole job's runtime, and the cap is a documented, deterministic
    part of the operator's semantics, not a sampling shortcut."""
    e = _t(spark, sf_dir, "events")
    uh = e.select(
        "user_id", F.date_trunc("hour", "ts").alias("hr")
    ).distinct()
    sized = uh.groupBy("hr").agg(F.count(F.lit(1)).alias("hn")).filter(
        F.col("hn") <= 100
    )
    ok = uh.join(sized.select("hr"), "hr")
    a = ok.select(F.col("hr"), F.col("user_id").alias("u1"))
    b = ok.select(F.col("hr"), F.col("user_id").alias("u2"))
    return (
        a.join(b, ["hr"])
        .filter(F.col("u1") < F.col("u2"))
        .groupBy("u1", "u2")
        .agg(F.count(F.lit(1)).alias("n_shared_hours"))
        .orderBy(F.col("n_shared_hours").desc(), "u1", "u2")
        .limit(25)
    )


@register(
    "expectations_orders_report",
    """
    WITH rows AS (SELECT COUNT(*) AS n_rows FROM orders)
    SELECT r.rule, rows.n_rows, r.n_violations,
           r.n_violations = 0 AS passed
    FROM rows, (
        SELECT 'orderkey_not_null' AS rule,
               CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violations
        FROM orders
        UNION ALL
        SELECT 'totalprice_in_range',
               CAST(SUM(CASE WHEN NOT (o_totalprice >= 0 AND o_totalprice <= 600000)
                        THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'status_accepted_values',
               CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                        THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'orderdate_not_null',
               CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'orderkey_unique',
               CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
        FROM orders
    ) r
    """,
    ops=["V1", "V2", "V4", "expectation-suite"],
)
def expectations_orders_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite over orders in ONE table scan
    (operators.validate.expectation_report): every row-local rule is a
    conditional sum inside a single aggregation, unpivoted to one
    report row per rule; uniqueness adds its own count-distinct pass.
    The HOW-HEALTHY dashboard/circuit-breaker complement to the
    WHICH-ROWS violation sets (V1-V5) — at 100 TB the difference
    between one pass and one pass per rule is the nightly bill."""
    o = _t(spark, sf_dir, "orders")
    return validate.expectation_report(
        o,
        row_rules={
            "orderkey_not_null": F.col("o_orderkey").isNull(),
            "totalprice_in_range": ~(
                (F.col("o_totalprice") >= 0) & (F.col("o_totalprice") <= 600000)
            ),
            "status_accepted_values": ~F.col("o_orderstatus").isin("O", "F", "P"),
            "orderdate_not_null": F.col("o_orderdate").isNull(),
        },
        unique={"orderkey_unique": ["o_orderkey"]},
    )


@register(
    "multiformat_join_report",
    """
    SELECT n.n_name,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderkey % 4 = 0
    GROUP BY n.n_name
    """,
    ops=["S5", "format-orc", "format-parquet", "J1", "A3"],
)
def multiformat_join_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One logical join across THREE at-rest formats: orders stays
    parquet, customer is round-tripped through ORC, nation through
    headered CSV (sinks.write_orc_snapshot / readers.read_orc /
    readers.read_csv) — the federated-warehouse reality where
    ingestion history left tables in different formats. The oracle
    recomputes from the base tables, so the hash-match proves the ORC
    and CSV read paths are value-faithful end to end (including CSV's
    schema-declared typed re-read), not just non-crashing."""

    from ..sinks.writers import write_orc_snapshot
    from ..sources.readers import read_csv, read_orc

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 4 == 0)
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    root = scratch_dir("multifmt", sf_dir, clean=True)
    write_orc_snapshot(c, f"{root}/customer_orc")
    n.write.mode("overwrite").csv(f"{root}/nation_csv", header=True)
    c_orc = read_orc(spark, f"{root}/customer_orc")
    n_csv = read_csv(
        spark, f"{root}/nation_csv",
        T.StructType([
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
        ]),
    )
    return (
        o.join(F.broadcast(c_orc), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n_csv), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec2("o_totalprice")).cast("double").alias("revenue"),
        )
    )


@register(
    "streaming_enrich_e2e",
    """
    WITH dim AS (
        SELECT user_id, user_id % 10 AS user_bucket FROM events
        GROUP BY user_id
    )
    SELECT d.user_bucket, e.event_type,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events e JOIN dim d ON d.user_id = e.user_id
    GROUP BY d.user_bucket, e.event_type
    """,
    ops=["streaming-e2e", "streaming-static-join", "J2"],
)
def streaming_enrich_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join under the oracle gate, completing the
    streaming operator family's e2e evidence (window agg, session,
    stateful totals, dedup, stream-stream attribution, LSH index
    filter — and now dimension enrichment): events re-staged as a
    file stream, joined per micro-batch against a broadcast static
    user dimension (stateless — no state store, no watermark), landed
    via the exactly-once parquet file sink, and aggregated. The
    oracle is the plain batch join: stream delivery must be
    contents-preserving."""

    from ..streaming.events import run_stream_enrich_to_parquet

    e = _t(spark, sf_dir, "events")
    dim = (
        e.groupBy("user_id")
        .agg(F.lit(1))
        .select("user_id", (F.col("user_id") % 10).alias("user_bucket"))
    )
    work = scratch_dir("enrich_e2e", sf_dir, clean=True)
    src = f"{work}/src"
    e.repartition(4).write.mode("overwrite").parquet(src)
    run_stream_enrich_to_parquet(
        spark, src, dim, f"{work}/out", f"{work}/ckpt"
    )
    enriched = spark.read.parquet(f"{work}/out")
    return enriched.groupBy("user_bucket", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.sum(F.col("value").cast(DEC6)).cast("double").alias("total_value"),
    )


@register(
    "k_anonymity_report",
    """
    WITH qi AS (
        SELECT c_nationkey,
               c_mktsegment,
               CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS acctbal_band,
               c_custkey
        FROM customer
    ), grp AS (
        SELECT c_nationkey, c_mktsegment, acctbal_band,
               COUNT(*) AS group_size,
               CAST(COUNT(DISTINCT c_custkey % 7) AS BIGINT) AS l_distinct
        FROM qi
        GROUP BY c_nationkey, c_mktsegment, acctbal_band
    )
    SELECT CAST(MIN(group_size) AS BIGINT) AS k_anonymity,
           CAST(MIN(l_distinct) AS BIGINT) AS l_diversity,
           COUNT(*) AS n_groups,
           CAST(SUM(CASE WHEN group_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS groups_below_k5,
           CAST(SUM(CASE WHEN group_size < 5 THEN group_size ELSE 0 END)
                AS BIGINT) AS rows_at_risk
    FROM grp
    """,
    ops=["privacy-k-anonymity", "privacy-l-diversity", "A3"],
)
def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy re-identification audit over the customer table: treat
    (nation, market segment, banded balance) as the quasi-identifier,
    report the dataset's k-anonymity (smallest QI group), l-diversity
    (fewest distinct sensitive values in any group — a synthetic
    7-class sensitive attribute here), and the groups/rows below the
    k=5 release threshold. The go/no-go census a training-data release
    pipeline runs before shipping user-derived records; one hash
    aggregation on the QI key + a 1-row rollup."""
    c = _t(spark, sf_dir, "customer")
    grp = (
        c.select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("acctbal_band"),
            "c_custkey",
        )
        .groupBy("c_nationkey", "c_mktsegment", "acctbal_band")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.count_distinct(F.col("c_custkey") % 7)
            .cast("long")
            .alias("l_distinct"),
        )
    )
    return grp.agg(
        F.min("group_size").cast("long").alias("k_anonymity"),
        F.min("l_distinct").cast("long").alias("l_diversity"),
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("group_size") < 5, 1).otherwise(0))
        .cast("long")
        .alias("groups_below_k5"),
        F.sum(F.when(F.col("group_size") < 5, F.col("group_size")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
    )


@register(
    "table_fingerprint_orders",
    """
    WITH h AS (
        SELECT CAST(('0x'||substr(md5(
                   CAST(o_orderkey AS VARCHAR) || '|' ||
                   COALESCE(o_orderstatus, '') || '|' ||
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) || '|' ||
                   CAST(o_orderdate AS VARCHAR)
               ),1,15)) AS BIGINT) AS rh,
               o_orderkey % 16 AS bucket
        FROM orders
    )
    SELECT bucket,
           COUNT(*) AS n_rows,
           CAST(SUM(rh) % 4611686018427387904 AS BIGINT) AS checksum
    FROM h GROUP BY bucket
    """,
    ops=["anti-entropy", "table-fingerprint", "A3"],
)
def table_fingerprint_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive bucketed table fingerprint — the anti-entropy
    primitive for reconciling replicas/migrations of a 100 TB table
    without moving it: md5 row digests (canonicalized column
    rendering, DECIMAL-normalized price, 60-bit slices) accumulated
    in a 38-digit decimal sum and reduced mod 2^62 — overflow-proof
    at any row count on both engines (DuckDB's HUGEINT sum, Spark's
    DECIMAL(38,0)) — per key bucket. Two sides compare 16 rows; a mismatched bucket localizes
    the diff to keys % 16 — then only that bucket's rows need the
    expensive row-level comparison (cdc.snapshot_diff). Entirely
    map-side until a 16-group aggregation."""
    o = _t(spark, sf_dir, "orders")
    row_repr = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.coalesce(F.col("o_orderstatus"), F.lit("")),
        _dec2("o_totalprice").cast("string"),
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


@register(
    "embedding_drift_report",
    """
    WITH dims AS (SELECT CAST(unnest(range(64)) AS INTEGER) AS i),
    fx AS (
        SELECT e.vec_id, e.label,
               CAST(('0x'||substr(md5('drift:'||CAST(e.vec_id AS VARCHAR)),1,8))
                    AS BIGINT) % 2 AS half,
               d.i,
               CAST(FLOOR(CAST(e.embedding[d.i + 1] AS DOUBLE) * 1000000)
                    AS BIGINT) AS vfp
        FROM embeddings e, dims d
    ), cent AS (
        SELECT label, half, i, SUM(vfp) AS s, COUNT(*) AS n
        FROM fx GROUP BY label, half, i
    ), pairs AS (
        SELECT a.label, a.i,
               CAST(a.s AS DOUBLE) / (a.n * 1000000.0) AS ca,
               CAST(b.s AS DOUBLE) / (b.n * 1000000.0) AS cb,
               a.n AS n_a, b.n AS n_b
        FROM cent a JOIN cent b
          ON a.label = b.label AND a.i = b.i AND a.half = 0 AND b.half = 1
    )
    SELECT label,
           CAST(MIN(n_a) AS BIGINT) AS n_half_a,
           CAST(MIN(n_b) AS BIGINT) AS n_half_b,
           CAST(SUM(CAST(FLOOR((ca - cb) * (ca - cb) * 100000000) AS BIGINT))
                AS BIGINT) AS shift_sq_fp8
    FROM pairs GROUP BY label
    """,
    ops=["ml-drift", "embedding-stats", "A3"],
)
def embedding_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift detector: split each label's vectors into two
    deterministic md5 halves (a stand-in for yesterday/today
    snapshots), compute both halves' centroids under the exact
    fixed-point discipline (same math as the Lloyd step — centroid
    doubles are bit-identical on any engine), and report the squared
    centroid shift per label as an fp8 integer sum. In production the
    halves are two pipeline runs; a shift above threshold pages the
    embedding-model owner before bad vectors poison the ANN index.
    One explode-aggregation (label·half·d rows) + a d-sized join —
    nothing row-scaled ever shuffles twice."""
    from ..operators.sampling import hash_bucket

    e = _t(spark, sf_dir, "embeddings")
    fx = e.select(
        "label",
        (hash_bucket(F.col("vec_id"), seed="drift") % 2).alias("half"),
        F.posexplode("embedding").alias("i", "x"),
    ).select(
        "label",
        "half",
        "i",
        F.floor(F.col("x").cast("double") * 1000000).cast("long").alias("vfp"),
    )
    cent = fx.groupBy("label", "half", "i").agg(
        F.sum("vfp").alias("s"), F.count(F.lit(1)).alias("n")
    )
    c = F.col("s").cast("double") / (F.col("n") * 1000000.0)
    a = cent.filter(F.col("half") == 0).select(
        "label", "i", c.alias("c"), F.col("n").alias("n_a")
    )
    b = cent.filter(F.col("half") == 1).select(
        "label", "i", c.alias("cb"), F.col("n").alias("n_b")
    )
    pairs = a.join(b, ["label", "i"])
    term = F.floor(
        (F.col("c") - F.col("cb")) * (F.col("c") - F.col("cb")) * 100000000
    ).cast("long")
    return pairs.groupBy("label").agg(
        F.min("n_a").cast("long").alias("n_half_a"),
        F.min("n_b").cast("long").alias("n_half_b"),
        F.sum(term).cast("long").alias("shift_sq_fp8"),
    )


@register(
    "hard_negative_mining",
    """
    WITH a AS (
        SELECT vec_id AS anchor_id, embedding AS qv, label AS anchor_label
        FROM embeddings WHERE vec_id % 97 = 0
    ), scored AS (
        SELECT a.anchor_id, e.vec_id,
               list_sum(list_transform(list_zip(e.embedding, a.qv),
                        s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(list_zip(e.embedding, e.embedding),
                        s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(list_zip(a.qv, a.qv),
                        s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))))
                 AS cosine
        FROM embeddings e, a
        WHERE e.label <> a.anchor_label
    ), r AS (
        SELECT anchor_id, vec_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY anchor_id
                                  ORDER BY cosine DESC, vec_id) AS rn
        FROM scored
    )
    SELECT anchor_id, vec_id, cosine FROM r WHERE rn <= 3
    """,
    ops=["similarity-hard-negatives", "contrastive-training", "W2"],
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training
    (operators.similarity.hard_negatives): for each anchor in a
    deterministic sample, the 3 most cosine-similar vectors with a
    DIFFERENT label — the near-misses that carve a metric model's
    decision boundary. Anchors broadcast (bounded by contract —
    corpus-sized anchor sets are an ANN-join, see ivf_topk); scoring
    is map-side left-fold dot products, bit-identical cross-engine."""
    e = _t(spark, sf_dir, "embeddings", fanout=True)
    anchors = e.filter(F.col("vec_id") % 97 == 0)
    return similarity.hard_negatives(e, anchors, k=3)


@register(
    "vocab_coverage_report",
    """
    WITH toks AS (
        SELECT source, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents
    ), tk AS (SELECT source, tok FROM toks WHERE tok <> ''),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, COUNT(*) AS freq FROM tk GROUP BY tok
            ORDER BY freq DESC, tok LIMIT 30
        )
    )
    SELECT tk.source,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           CAST(FLOOR(SUM(CASE WHEN v.tok IS NULL THEN 1.0 ELSE 0.0 END)
                      / COUNT(*) * 1000000) AS BIGINT) AS oov_rate_fp6
    FROM tk LEFT JOIN vocab v ON v.tok = tk.tok
    GROUP BY tk.source
    """,
    ops=["text-oov-coverage", "A3", "topk"],
)
def vocab_coverage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: freeze the corpus's top-30 terms
    as the 'vocabulary' and report each source's out-of-vocabulary
    token count and rate — the OOV dashboard run before committing a
    tokenizer to a corpus mix (a source with a high OOV rate wastes
    context window on fragmented tokens). The vocabulary is a bounded
    broadcast (top-k with deterministic tiebreak); the probe is one
    map-side left join + per-source aggregation."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    tk = d.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = (
        tk.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "tok")
        .limit(30)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    return (
        tk.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            F.floor(
                F.sum(
                    F.when(F.col("in_vocab").isNull(), 1.0).otherwise(0.0)
                )
                / F.count(F.lit(1))
                * 1000000
            )
            .cast("long")
            .alias("oov_rate_fp6"),
        )
    )


@register(
    "markov_event_stationary",
    """
    WITH ordered AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_t
        FROM events
    ), trans AS (
        SELECT prev_t AS from_t, event_type AS to_t, COUNT(*) AS c
        FROM ordered WHERE prev_t IS NOT NULL GROUP BY from_t, to_t
    ), r AS (
        SELECT from_t, SUM(c) AS r FROM trans GROUP BY from_t
    ), nt AS (
        SELECT COUNT(DISTINCT from_t) AS n FROM trans
    ), v1 AS (
        SELECT r.from_t, 1000000000000 // nt.n AS w FROM r, nt
    ), v2 AS (
        SELECT t.to_t, SUM((v1.w * t.c) // r.r) AS w
        FROM trans t
        JOIN v1 ON v1.from_t = t.from_t
        JOIN r ON r.from_t = t.from_t
        GROUP BY t.to_t
    ), v3 AS (
        SELECT t.to_t, SUM((v2.w * t.c) // r.r) AS w
        FROM trans t
        JOIN v2 ON v2.to_t = t.from_t
        JOIN r ON r.from_t = t.from_t
        GROUP BY t.to_t
    )
    SELECT v2.to_t AS event_type,
           CAST(v2.w AS BIGINT) AS v2_fp12,
           CAST(v3.w AS BIGINT) AS v3_fp12
    FROM v2 JOIN v3 ON v3.to_t = v2.to_t
    """,
    ops=["markov-chain", "linalg-power-iteration", "window-lag-lead"],
)
def markov_event_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain behavior model over user journeys: per-user
    lag-window transitions → event-type transition matrix → TWO power
    iterations toward the stationary distribution, in EXACT INTEGER
    arithmetic (fp12 weights, `DIV` floor division per term, integer
    sums) so the iterative result hash-matches like everything else —
    the same discipline that made the Gram/Holt recursions
    oracle-exact. The matrix is k² rows (k = event types), so every
    iteration is a k-row broadcast join; only the transition count
    aggregation ever touches row-scaled data."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_t")
    ).filter(F.col("prev_t").isNotNull())
    # trans is the BOUNDED k^2 transition matrix but it is consumed by
    # r, nt and both power steps — unstaged, each reference re-ran the
    # corpus-wide lag window (r12 rescan audit: 10 events scans in the
    # plan). Checkpoint pins the k^2 relation once.
    trans = ordered.groupBy(
        F.col("prev_t").alias("from_t"), F.col("event_type").alias("to_t")
    ).agg(F.count(F.lit(1)).alias("c")).localCheckpoint()
    r = trans.groupBy("from_t").agg(F.sum("c").alias("r"))
    nt = trans.agg(F.count_distinct("from_t").alias("n"))
    v1 = r.crossJoin(F.broadcast(nt)).select(
        "from_t", F.expr("1000000000000 DIV n").alias("w")
    )

    def step(v: DataFrame) -> DataFrame:
        return (
            trans.join(F.broadcast(v), "from_t")
            .join(F.broadcast(r), "from_t")
            .select("to_t", F.expr("(w * c) DIV r").alias("t"))
            .groupBy("to_t")
            .agg(F.sum("t").alias("w"))
        )

    v2 = step(v1)
    v3 = step(v2.withColumnRenamed("to_t", "from_t"))
    return (
        v2.join(v3.withColumnRenamed("w", "w3"), "to_t")
        .select(
            F.col("to_t").alias("event_type"),
            F.col("w").cast("long").alias("v2_fp12"),
            F.col("w3").cast("long").alias("v3_fp12"),
        )
    )


@register(
    "upsert_delete_keys",
    """
    WITH v1 AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 2 = 0
    ), live AS (
        SELECT * FROM v1 WHERE o_orderkey % 10 <> 4
    )
    SELECT
        (SELECT COUNT(*) FROM v1) AS n_before,
        (SELECT COUNT(*) FROM live) AS n_after,
        (SELECT COUNT(*) FROM v1) - (SELECT COUNT(*) FROM live) AS n_deleted,
        (SELECT CAST(SUM(o_orderkey) AS BIGINT) FROM live) AS key_checksum
    """,
    ops=["K2", "K3", "crud-delete", "time-travel"],
)
def upsert_delete_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE on the versioned table (operators.upsert.delete_keys_parquet)
    — the right-to-be-forgotten path completing CRUD: commit v1,
    delete the tombstone key set (keys %10==4) as a new atomic
    snapshot, and verify BOTH that the live table dropped exactly the
    tombstoned rows AND that time travel still reads the pre-delete
    version intact (its count feeds n_before — deletion must not
    mutate history; `vacuum` is what eventually forgets)."""
    import os as _os

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    root = scratch_dir("delete", sf_dir, clean=True)
    v1 = upsert.write_upsert_parquet(
        root, o.filter(F.col("o_orderkey") % 2 == 0), ["o_orderkey"]
    )
    tombstones = o.filter(
        (F.col("o_orderkey") % 2 == 0) & (F.col("o_orderkey") % 10 == 4)
    ).select("o_orderkey")
    upsert.delete_keys_parquet(root, tombstones, ["o_orderkey"])
    live = upsert.read_upsert_parquet(spark, root)
    before = spark.read.parquet(_os.path.join(root, v1))  # time travel
    n_before = before.agg(F.count(F.lit(1)).alias("n_before"))
    stats = live.agg(
        F.count(F.lit(1)).alias("n_after"),
        F.sum("o_orderkey").cast("long").alias("key_checksum"),
    )
    return (
        n_before.crossJoin(stats)
        .select(
            "n_before",
            "n_after",
            (F.col("n_before") - F.col("n_after")).alias("n_deleted"),
            "key_checksum",
        )
    )


@register(
    "source_term_kl",
    """
    WITH toks AS (
        SELECT source, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents
    ), tk AS (SELECT source, tok FROM toks WHERE tok <> ''),
    support AS (
        SELECT tok, freq FROM (
            SELECT tok, COUNT(*) AS freq FROM tk GROUP BY tok
            ORDER BY freq DESC, tok LIMIT 50
        )
    ), nsupp AS (
        SELECT SUM(freq) AS n_corpus FROM support
    ), sc AS (
        SELECT tk.source, tk.tok, COUNT(*) AS c
        FROM tk JOIN support s ON s.tok = tk.tok
        GROUP BY tk.source, tk.tok
    ), ns AS (
        SELECT source, SUM(c) AS n_src FROM sc GROUP BY source
    ), terms AS (
        SELECT sc.source,
               sc.c * CAST(FLOOR(
                   (ln(CAST(sc.c AS DOUBLE)) + ln(CAST(nsupp.n_corpus AS DOUBLE))
                    - ln(CAST(ns.n_src AS DOUBLE)) - ln(CAST(s.freq AS DOUBLE)))
                   * 1000000000) AS BIGINT) AS t
        FROM sc
        JOIN ns ON ns.source = sc.source
        JOIN support s ON s.tok = sc.tok
        CROSS JOIN nsupp
    ), agg AS (
        SELECT source, CAST(SUM(t) AS BIGINT) AS s_fp9 FROM terms GROUP BY source
    )
    SELECT agg.source, CAST(ns.n_src AS BIGINT) AS n_support_tokens,
           CAST(FLOOR(CAST(s_fp9 AS DOUBLE) / 1000000000 / ns.n_src * 1000000)
                AS BIGINT) AS kl_fp6
    FROM agg JOIN ns ON ns.source = agg.source
    """,
    ops=["text-kl-divergence", "stats-distribution-shift", "A3"],
)
def source_term_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-shift detector for text: per-source KL divergence of the
    term distribution from the corpus distribution, restricted to the
    corpus's top-50 head vocabulary (bounded support ⇒ broadcast; a
    source missing a support term contributes 0 by the p·ln p
    convention, and q>0 is guaranteed on the support, so no smoothing
    is needed). Same exact-moment discipline as the Zipf/entropy
    queries: libm only on integer counts, per-term fp9 flooring
    before the integer sum, one final fixed-order double."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    tk = d.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    support = (
        tk.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "tok")
        .limit(50)
    )
    nsupp = support.agg(F.sum("freq").alias("n_corpus"))
    sc = (
        tk.join(F.broadcast(support.select("tok")), "tok")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ns = sc.groupBy("source").agg(F.sum("c").alias("n_src"))
    ln = lambda c: F.log(c.cast("double"))
    term = F.col("c") * F.floor(
        (
            ln(F.col("c"))
            + ln(F.col("n_corpus"))
            - ln(F.col("n_src"))
            - ln(F.col("freq"))
        )
        * 1000000000
    ).cast("long")
    agg = (
        sc.join(F.broadcast(ns), "source")
        .join(F.broadcast(support), "tok")
        .crossJoin(F.broadcast(nsupp))
        .select("source", term.alias("t"))
        .groupBy("source")
        .agg(F.sum("t").alias("s_fp9"))
    )
    return agg.join(ns, "source").select(
        "source",
        F.col("n_src").cast("long").alias("n_support_tokens"),
        F.floor(
            F.col("s_fp9").cast("double") / 1000000000 / F.col("n_src") * 1000000
        )
        .cast("long")
        .alias("kl_fp6"),
    )


@register(
    "fd_discovery_audit",
    """
    SELECT fd, n_lhs_values, n_violating_lhs, n_violating_lhs = 0 AS holds
    FROM (
        SELECT 'p_partkey->p_brand' AS fd,
               COUNT(*) AS n_lhs_values,
               CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violating_lhs
        FROM (SELECT p_partkey, COUNT(DISTINCT p_brand) AS n_rhs
              FROM part GROUP BY p_partkey)
        UNION ALL
        SELECT 'p_type->p_size',
               COUNT(*),
               CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
        FROM (SELECT p_type, COUNT(DISTINCT p_size) AS n_rhs
              FROM part GROUP BY p_type)
        UNION ALL
        SELECT 'c_nationkey->region(n_regionkey)',
               COUNT(*),
               CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
        FROM (SELECT c.c_nationkey, COUNT(DISTINCT n.n_regionkey) AS n_rhs
              FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
              GROUP BY c.c_nationkey)
    )
    """,
    ops=["profiling-fd-discovery", "A-distinct", "A3"],
)
def fd_discovery_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery audit — the schema-inference
    step of data profiling: for candidate FDs A→B, count the LHS
    values determining more than one RHS value. One count-distinct
    aggregation per candidate (each a single hash shuffle on A), a
    per-FD verdict row. Here: partkey→brand HOLDS (key discovery —
    an FD from a candidate key always holds), type→size does not in
    this synthetic data, and the join-induced nation→region
    dependency holds via the FK."""
    p = _t(spark, sf_dir, "part")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")

    def audit(df, lhs, rhs, name):
        g = df.groupBy(lhs).agg(
            F.count_distinct(rhs).alias("n_rhs")
        )
        return g.agg(
            F.lit(name).alias("fd"),
            F.count(F.lit(1)).alias("n_lhs_values"),
            F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_violating_lhs"),
        )
    joined = c.join(
        F.broadcast(n.select("n_nationkey", "n_regionkey")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    out = (
        audit(p, "p_partkey", "p_brand", "p_partkey->p_brand")
        .unionByName(audit(p, "p_type", "p_size", "p_type->p_size"))
        .unionByName(
            audit(joined, "c_nationkey", "n_regionkey",
                  "c_nationkey->region(n_regionkey)")
        )
    )
    return out.withColumn("holds", F.col("n_violating_lhs") == 0)


@register(
    "session_gap_sensitivity",
    """
    WITH g AS (
        SELECT user_id,
               epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        FROM events
    ), per_user AS (
        SELECT user_id,
               1 + SUM(CASE WHEN gap_us > 900000000 THEN 1 ELSE 0 END) AS s15,
               1 + SUM(CASE WHEN gap_us > 1800000000 THEN 1 ELSE 0 END) AS s30,
               1 + SUM(CASE WHEN gap_us > 3600000000 THEN 1 ELSE 0 END) AS s60
        FROM g GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(s15) AS BIGINT) AS sessions_15m,
           CAST(SUM(s30) AS BIGINT) AS sessions_30m,
           CAST(SUM(s60) AS BIGINT) AS sessions_60m
    FROM per_user
    """,
    ops=["sessionize-sweep", "window-lag-lead", "A3"],
)
def session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization parameter sweep in ONE pass: total session
    counts under 15/30/60-minute inactivity gaps, from a single
    per-user lag window (each threshold is one more conditional sum
    over the same gap column — no re-scan, no re-shuffle per
    candidate). The tuning table that picks the session gap before
    committing the real sessionizer; exact epoch-microsecond integer
    arithmetic end to end."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    g = e.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    )
    per_user = g.groupBy("user_id").agg(
        *[
            (
                F.lit(1)
                + F.sum(
                    F.when(F.col("gap_us") > F.lit(t * 60 * 1_000_000), 1)
                    .otherwise(0)
                )
            ).alias(f"s{t}")
            for t in (15, 30, 60)
        ]
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("s15").cast("long").alias("sessions_15m"),
        F.sum("s30").cast("long").alias("sessions_30m"),
        F.sum("s60").cast("long").alias("sessions_60m"),
    )


@register(
    "upsert_history_report",
    """
    WITH v0 AS (
        SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0
    ), adds AS (
        SELECT o_orderkey FROM orders
        WHERE o_orderkey % 2 = 1 AND o_orderkey % 3 = 0
    ), v1 AS (
        SELECT * FROM v0 UNION ALL SELECT * FROM adds
    ), v2 AS (
        SELECT * FROM v1 WHERE o_orderkey % 10 <> 4
    )
    SELECT 0 AS version, COUNT(*) AS n_rows FROM v0
    UNION ALL SELECT 1, COUNT(*) FROM v1
    UNION ALL SELECT 2, COUNT(*) FROM v2
    """,
    ops=["K2", "table-history", "time-travel"],
)
def upsert_history_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY for the versioned table
    (operators.upsert.table_history): commit three versions — initial
    insert, an ignore-mode batch adding new keys, a tombstone delete —
    and report every version's ordinal and row count straight from the
    manifest commit log. The oracle recomputes the three states
    relationally, proving the history is faithful (each listed version
    remains time-travel-readable until vacuum retires it)."""

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    root = scratch_dir("hist", sf_dir, clean=True)
    upsert.write_upsert_parquet(
        root, o.filter(F.col("o_orderkey") % 2 == 0), ["o_orderkey"]
    )
    upsert.write_upsert_parquet(
        root,
        o.filter(
            (F.col("o_orderkey") % 2 == 1) & (F.col("o_orderkey") % 3 == 0)
        ),
        ["o_orderkey"],
    )
    upsert.delete_keys_parquet(
        root,
        o.filter(F.col("o_orderkey") % 10 == 4).select("o_orderkey"),
        ["o_orderkey"],
    )
    return upsert.table_history(spark, root)


@register(
    "export_manifest_report",
    """
    WITH sharded AS (
        SELECT doc_id, n_chars,
               CAST(('0x'||substr(md5('exp:'||CAST(doc_id AS VARCHAR)),1,8))
                    AS BIGINT) % 8 AS shard,
               CAST(('0x'||substr(md5('row:'||CAST(doc_id AS VARCHAR)),1,15))
                    AS BIGINT) AS rh
        FROM documents
    )
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(rh) % 4611686018427387904 AS BIGINT) AS checksum
    FROM sharded GROUP BY shard
    """,
    ops=["training-export", "table-fingerprint", "K6"],
)
def export_manifest_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-export capstone: assign every document a deterministic
    shard (md5 bucket — re-runs produce identical shards), write the
    corpus hive-partitioned by shard, READ THE EXPORT BACK FROM DISK,
    and emit the integrity manifest a consumer verifies before
    training: per shard, document count, total characters, and an
    order-insensitive md5 checksum (DECIMAL-accumulated mod 2^62, as
    in table_fingerprint_orders). The oracle recomputes the manifest
    from the base table, so a hash-match proves the partitioned write
    + read round trip is content-faithful shard by shard."""

    from ..operators.sampling import hash_bucket

    d = _t(spark, sf_dir, "documents")
    sharded = d.select(
        "doc_id",
        "n_chars",
        (hash_bucket(F.col("doc_id"), seed="exp") % 8).alias("shard"),
    )
    out = scratch_dir("export", sf_dir, clean=True) + "/corpus"
    sharded.write.mode("overwrite").partitionBy("shard").parquet(out)
    back = spark.read.parquet(out)
    rh = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("row:"), F.col("doc_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return (
        back.select(F.col("shard").cast("long").alias("shard"),
                    "n_chars", rh.alias("rh"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            (F.sum(F.col("rh").cast(DEC38)) % F.lit(4611686018427387904))
            .cast("long")
            .alias("checksum"),
        )
    )


_READINESS_Q = """
    WITH t AS (
        SELECT doc_id, string_split(lower(text), ' ') AS toks
        FROM documents
    ), q AS (
        SELECT doc_id,
               0.4 * (CASE WHEN len(toks) >= 20 AND len(toks) <= 1000 THEN 1.0 ELSE 0.0 END)
                 + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
                 + 0.3 * (CAST(len(list_filter(toks,
                       x -> x IN ('the','and','of','to','in','is','a','that'))) AS DOUBLE)
                          / len(toks)) AS quality_score
        FROM t
    )
"""


@register(
    "corpus_release_readiness",
    f"""
    {_READINESS_Q}
    SELECT 'exact_dup_rate_max' AS check_name,
           CAST(FLOOR((CAST(COUNT(*) AS DOUBLE) - COUNT(DISTINCT md5(text)))
                      / COUNT(*) * 1000000) AS BIGINT) AS metric_fp6,
           CAST(50000 AS BIGINT) AS threshold_fp6,
           FLOOR((CAST(COUNT(*) AS DOUBLE) - COUNT(DISTINCT md5(text)))
                 / COUNT(*) * 1000000) <= 50000 AS passed
    FROM documents
    UNION ALL
    SELECT 'mean_quality_min',
           CAST(FLOOR(CAST(SUM(CAST(FLOOR(quality_score * 1000000) AS BIGINT))
                           AS DOUBLE) / COUNT(*)) AS BIGINT),
           CAST(400000 AS BIGINT),
           FLOOR(CAST(SUM(CAST(FLOOR(quality_score * 1000000) AS BIGINT))
                      AS DOUBLE) / COUNT(*)) >= 400000
    FROM q
    UNION ALL
    SELECT 'max_lang_share_max',
           CAST(FLOOR(CAST(MAX(n) AS DOUBLE) / SUM(n) * 1000000) AS BIGINT),
           CAST(600000 AS BIGINT),
           FLOOR(CAST(MAX(n) AS DOUBLE) / SUM(n) * 1000000) <= 600000
    FROM (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang)
    UNION ALL
    SELECT 'corpus_size_min',
           CAST(COUNT(*) AS BIGINT),
           CAST(100 AS BIGINT),
           COUNT(*) >= 100
    FROM documents
    """,
    ops=["release-gate", "text-quality", "A3", "A-distinct"],
)
def corpus_release_readiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 200th query, fittingly the composed go/no-go RELEASE GATE a
    data team runs before shipping a corpus: exact-duplicate rate
    under 5%, mean quality score above the floor, dominant-language
    share under 60%, corpus size above minimum — one row per check
    with (metric, threshold, passed). Each check is a one-pass
    aggregate over capabilities verified individually elsewhere
    (dedup_exact_docs, doc_quality_score, balanced_lang_mix); the
    quality mean is fp6-floored per document before the integer sum,
    the dup/share ratios are fixed-order doubles over exact counts."""
    d = _t(spark, sf_dir, "documents")
    dup = d.agg(
        F.lit("exact_dup_rate_max").alias("check_name"),
        F.floor(
            (F.count(F.lit(1)).cast("double") - F.count_distinct(F.md5("text")))
            / F.count(F.lit(1))
            * 1000000
        )
        .cast("long")
        .alias("metric_fp6"),
        F.lit(50000).cast("long").alias("threshold_fp6"),
    ).withColumn("passed", F.col("metric_fp6") <= F.col("threshold_fp6"))
    qdf = text.quality_score(d).select(
        F.floor(F.col("quality_score") * 1000000).cast("long").alias("qfp")
    )
    qual = qdf.agg(
        F.lit("mean_quality_min").alias("check_name"),
        F.floor(F.sum("qfp").cast("double") / F.count(F.lit(1)))
        .cast("long")
        .alias("metric_fp6"),
        F.lit(400000).cast("long").alias("threshold_fp6"),
    ).withColumn("passed", F.col("metric_fp6") >= F.col("threshold_fp6"))
    share = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.lit("max_lang_share_max").alias("check_name"),
            F.floor(F.max("n").cast("double") / F.sum("n") * 1000000)
            .cast("long")
            .alias("metric_fp6"),
            F.lit(600000).cast("long").alias("threshold_fp6"),
        )
        .withColumn("passed", F.col("metric_fp6") <= F.col("threshold_fp6"))
    )
    size = d.agg(
        F.lit("corpus_size_min").alias("check_name"),
        F.count(F.lit(1)).alias("metric_fp6"),
        F.lit(100).cast("long").alias("threshold_fp6"),
    ).withColumn("passed", F.col("metric_fp6") >= F.col("threshold_fp6"))
    return dup.unionByName(qual).unionByName(share).unionByName(size)


@register(
    "verbatim_window_pairs",
    """
    WITH g AS (
        SELECT DISTINCT doc_id,
               md5(substr(text, CAST(p AS INTEGER), 30)) AS gram
        FROM documents,
             unnest(range(1, greatest(len(text) - 29, 1) + 1)) AS t(p)
    ), tot AS (
        SELECT COUNT(DISTINCT doc_id) AS n_docs FROM g
    ), kept AS (
        SELECT gram FROM g, tot
        GROUP BY gram, n_docs
        HAVING COUNT(*) <= FLOOR(0.02 * n_docs)
    ), s AS (
        SELECT g.doc_id, g.gram FROM g JOIN kept USING (gram)
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM s GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM s a JOIN s b USING (gram)
        WHERE a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, n_common, sa.sz AS size_a, sb.sz AS size_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    """,
    ops=["exact-substring-dedup", "A-dedup", "set-similarity"],
)
def verbatim_window_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate pairs: documents sharing ≥1 verbatim
    30-character window (Lee et al. 2022's strongest dup signal,
    re-expressed as the distributed window-relation + grouped
    pair-explode — see operators/dedup.py:char_gram_set). Shared-window
    count and window-set sizes let downstream rank by verbatim
    coverage. The df cap bounds candidate volume exactly as in the
    word-shingle family."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    return dedup.exact_substring_pairs(d, k=30, max_df_frac=0.02)


@register(
    "semdedup_verdicts",
    f"""
    WITH {_codebook_cte(8)}, cbn AS (
        SELECT c, centroid FROM cb
        WHERE list_sum(list_transform(centroid, x -> x * x)) > 0
    ), base AS (
        SELECT vec_id, embedding,
               sqrt(list_sum(list_transform(list_zip(embedding, embedding),
                    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) AS norm
        FROM embeddings
    ), nz AS (
        SELECT * FROM base WHERE norm > 0
    ), scored AS (
        SELECT b.vec_id, s.c,
               list_sum(list_transform(list_zip(b.embedding, s.centroid),
                    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (b.norm
                  * sqrt(list_sum(list_transform(list_zip(s.centroid, s.centroid),
                         p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))))
                 AS cos
        FROM nz b, cbn s
    ), assigned AS (
        SELECT vec_id, CAST(c AS INTEGER) AS cluster FROM (
            SELECT vec_id, c,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, c) AS rn
            FROM scored) WHERE rn = 1
    ), dups AS (
        SELECT DISTINCT a2.vec_id AS dup_id
        FROM assigned a1
        JOIN assigned a2
          ON a1.cluster = a2.cluster AND a1.vec_id < a2.vec_id
        JOIN nz b1 ON b1.vec_id = a1.vec_id
        JOIN nz b2 ON b2.vec_id = a2.vec_id
        WHERE list_sum(list_transform(list_zip(b1.embedding, b2.embedding),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
              / (b1.norm * b2.norm) >= 0.4
    )
    SELECT a.vec_id, a.cluster,
           (a.vec_id IN (SELECT dup_id FROM dups)) AS is_dup
    FROM assigned a
    """,
    ops=["semdedup", "similarity-blocked", "embedding-near-dup"],
)
def semdedup_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table with a TRAINED coarse
    codebook relation (one Lloyd step from the 8 lowest-id seeds —
    operators/similarity.py:train_codebook): the k-row codebook
    collapses to one broadcast row, assignment is map-side argmax
    cosine, and near-dup flags come from within-cluster exact cosine
    pairs (similarity.semdedup_rel). One verdict row per
    non-degenerate vector; zero driver collects.

    SCALE NOTE: the codebook is PINNED at k=8 for oracle
    comparability, which makes within-cluster candidates Θ(n²/k) —
    measured 27.4x on 10x data (BASELINE.md "Fixed-cardinality
    blocking"). The registered 100 TB form is
    `semdedup_verdicts_scaled` (queries/_p11.py): same semantics
    class, cells bounded by construction via
    similarity.adaptive_lsh_cells."""
    e = _t(spark, sf_dir, "embeddings", fanout=True)
    cb = similarity.train_codebook(e, k=8)
    return similarity.semdedup_rel(e, cb, threshold=0.4)


@register(
    "split_leakage_audit",
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
        WHERE CAST(n_common AS DOUBLE)
                / (sa.set_size + sb.set_size - n_common) >= 0.5
    ), splits AS (
        SELECT doc_id,
               CASE WHEN CAST(('0x'||substring(
                        md5('split:'||CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT)
                        < CAST(FLOOR(0.2 * 4294967296) AS BIGINT)
                    THEN 'holdout' ELSE 'train' END AS split
        FROM documents
    )
    SELECT p.id_a, p.id_b, a.split AS split_a, b.split AS split_b, p.jaccard
    FROM pairs p
    JOIN splits a ON a.doc_id = p.id_a
    JOIN splits b ON b.doc_id = p.id_b
    WHERE a.split <> b.split
    """,
    ops=["split-leakage", "dedup-jaccard", "hash-split"],
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-contamination audit: word-3-gram Jaccard near-dup pairs
    (t=0.5) that CROSS a deterministic 80/20 md5 train/holdout split —
    each surviving row is a held-out document whose near-duplicate
    leaked into train (operators/dedup.py:split_leakage_pairs)."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    return dedup.split_leakage_pairs(
        d, holdout_frac=0.2, seed="split", threshold=0.5, n=3
    )


@register(
    "source_frequency_cap",
    """
    WITH rk AS (
        SELECT source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY CAST(('0x'||substring(
                               md5('cap:'||CAST(doc_id AS VARCHAR)),1,8))
                            AS BIGINT),
                            doc_id) AS rk
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN rk <= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(COUNT(*) - SUM(CASE WHEN rk <= 20 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped
    FROM rk GROUP BY source
    """,
    ops=["frequency-cap", "A3", "hash-sample"],
)
def source_frequency_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source frequency capping (the head-domain mitigation): at
    most 20 docs per source by deterministic hash rank
    (operators/sampling.py:quota_per_group — WindowGroupLimit shape, no
    full rank list per group), reported as kept/dropped per source."""
    d = _t(spark, sf_dir, "documents")
    kept = sampling.quota_per_group(d, "source", 20, "doc_id", seed="cap")
    totals = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    keptc = kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))
    return totals.join(keptc, "source").select(
        "source",
        "n_total",
        "n_kept",
        (F.col("n_total") - F.col("n_kept")).alias("n_dropped"),
    )


@register(
    "curriculum_order_docs",
    f"""
    WITH q AS ({REGISTRY["doc_quality_score"].oracle}), b AS (
        SELECT doc_id, quality_score AS quality,
               LEAST(CAST(FLOOR(quality_score * 10) AS INTEGER), 9) AS bucket
        FROM q
    ), ranked AS (
        SELECT doc_id, quality, bucket,
               row_number() OVER (
                   PARTITION BY bucket
                   ORDER BY CAST(('0x'||substring(
                               md5('cur0:'||CAST(doc_id AS VARCHAR)),1,8))
                            AS BIGINT),
                            doc_id) AS bucket_rank
        FROM b
    ), sizes AS (
        SELECT bucket, COUNT(*) AS n FROM b GROUP BY bucket
    ), offsets AS (
        SELECT bucket,
               CAST(COALESCE(SUM(n) OVER (ORDER BY bucket DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS off
        FROM sizes
    )
    SELECT r.doc_id, r.quality, r.bucket,
           CAST(o.off + r.bucket_rank AS BIGINT) AS curriculum_rank
    FROM ranked r JOIN offsets o ON o.bucket = r.bucket
    """,
    ops=["curriculum", "hash-shuffle", "window"],
)
def curriculum_order_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-bucket curriculum: global training order presenting
    higher-quality buckets first, hash-shuffled within a bucket,
    assembled without any global sort
    (operators/mixing.py:curriculum_order)."""
    d = _t(spark, sf_dir, "documents")
    q = text.quality_score(d).select("doc_id", "quality_score")
    return mixing.curriculum_order(q, "quality_score", n_buckets=10, seed="cur0")


@register(
    "tokenizer_fertility_by_lang",
    """
    WITH t AS (
        SELECT lang, length(text) AS n_chars,
               len(string_split(lower(text), ' ')) AS n_tokens,
               CAST(ceil(length(text) / 4.0) AS BIGINT) AS approx_bpe_tokens
        FROM documents
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(SUM(approx_bpe_tokens) AS BIGINT) AS sum_bpe_tokens,
           CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(n_tokens) AS BIGINT)
             AS chars_per_token,
           CAST(SUM(approx_bpe_tokens) AS DOUBLE)
             / CAST(SUM(n_tokens) AS BIGINT) AS bpe_per_ws_token
    FROM t GROUP BY lang
    """,
    ops=["tokenizer-fertility", "text-tokens", "A3"],
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: chars per whitespace token and
    BPE-estimate tokens per whitespace token — the per-language cost
    profile that drives corpus mixing budgets. Exact integer sums,
    ratios as doubles of identical operands."""
    d = _t(spark, sf_dir, "documents")
    st = text.token_stats(d)
    joined = st.join(d.select("doc_id", "lang"), "doc_id")
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.sum("approx_bpe_tokens").alias("sum_bpe_tokens"),
        (F.sum("n_chars").cast("double") / F.sum("n_tokens")).alias(
            "chars_per_token"
        ),
        (F.sum("approx_bpe_tokens").cast("double") / F.sum("n_tokens")).alias(
            "bpe_per_ws_token"
        ),
    )


@register(
    "fuzzy_part_name_pairs",
    """
    WITH n AS (
        SELECT p_name AS name, COUNT(*) AS n_rows FROM part GROUP BY p_name
    )
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS INTEGER) AS distance,
           a.n_rows AS n_rows_a, b.n_rows AS n_rows_b
    FROM n a JOIN n b ON a.name < b.name
    WHERE abs(len(a.name) - len(b.name)) <= 3
      AND levenshtein(a.name, b.name) <= 3
    """,
    ops=["entity-resolution", "fuzzy-join", "blocking"],
)
def fuzzy_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over the part-name vocabulary: value pairs
    within edit distance 3, found with lossless length-band blocking
    (operators/linkage.py:fuzzy_name_pairs) — the oracle spells the
    quadratic all-pairs form the blocking provably equals."""
    p = _t(spark, sf_dir, "part")
    return linkage.fuzzy_name_pairs(p, "p_name", max_distance=3)


@register(
    "cv_fold_stats",
    """
    WITH f AS (
        SELECT CAST(CAST(('0x'||substring(
                   md5('cv:'||CAST(o_orderkey AS VARCHAR)),1,8)) AS BIGINT)
                   % 5 AS INTEGER) AS fold,
               CAST(o_totalprice AS DECIMAL(18,2)) AS price
        FROM orders
    ), per AS (
        SELECT fold, COUNT(*) AS n_orders, SUM(price) AS rev
        FROM f GROUP BY fold
    ), tot AS (
        SELECT SUM(price) AS trev, COUNT(*) AS tn FROM f
    )
    SELECT fold, n_orders,
           CAST(rev AS DOUBLE) AS fold_revenue,
           CAST(trev - rev AS DOUBLE) / (tn - n_orders) AS oof_mean_price
    FROM per, tot
    """,
    ops=["cv-folds", "hash-split", "A3"],
)
def cv_fold_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-fold cross-validation assignment (deterministic md5 folds,
    k=5) with per-fold counts, exact DECIMAL revenue, and the
    out-of-fold mean price (the leave-one-fold-out statistic a target
    encoder needs). The corpus-level totals are a 1-row broadcast."""
    o = _t(spark, sf_dir, "orders")
    f = o.select(
        (sampling.hash_bucket(F.col("o_orderkey"), "cv") % 5)
        .cast("int")
        .alias("fold"),
        _dec2("o_totalprice").alias("price"),
    )
    per = f.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_orders"), F.sum("price").alias("rev")
    )
    tot = f.agg(
        F.sum("price").alias("trev"), F.count(F.lit(1)).alias("tn")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "fold",
        "n_orders",
        F.col("rev").cast("double").alias("fold_revenue"),
        (
            (F.col("trev") - F.col("rev")).cast("double")
            / (F.col("tn") - F.col("n_orders"))
        ).alias("oof_mean_price"),
    )


@register(
    "quality_classifier_filter",
    f"""
    WITH q AS ({REGISTRY["doc_quality_score"].oracle}), z AS (
        SELECT doc_id,
               CAST(-0.8 AS DOUBLE) + CAST(1.2 AS DOUBLE) * type_token_ratio
                    + CAST(2.0 AS DOUBLE) * stopword_ratio
                    + CAST(0.002 AS DOUBLE) * n_tokens AS z
        FROM q
    )
    SELECT doc_id, z / (1 + abs(z)) AS score,
           z / (1 + abs(z)) >= 0.25 AS keep
    FROM z
    """,
    ops=["model-quality-filter", "text-quality"],
)
def quality_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-weight linear quality classifier (the deterministic
    stand-in for a fastText-style corpus filter): z = b + w·features
    over the quality components, squashed with the RATIONAL sigmoid
    z/(1+|z|) — same monotonicity as logistic, but exact IEEE
    arithmetic on both engines (libm exp() rounding is not
    cross-engine portable, rational ops are). keep = score ≥ 0.25."""
    d = _t(spark, sf_dir, "documents")
    q = text.quality_score(d)
    z = (
        F.lit(-0.8)
        + F.lit(1.2) * F.col("type_token_ratio")
        + F.lit(2.0) * F.col("stopword_ratio")
        + F.lit(0.002) * F.col("n_tokens")
    )
    staged = q.select(F.col("doc_id"), z.alias("z"))
    score = F.col("z") / (F.lit(1) + F.abs(F.col("z")))
    return staged.select(
        "doc_id",
        score.alias("score"),
        (score >= F.lit(0.25)).alias("keep"),
    )


@register(
    "canonical_part_names",
    """
    WITH RECURSIVE n AS (
        SELECT p_name AS name, COUNT(*) AS n_rows FROM part GROUP BY p_name
    ), pairs AS (
        SELECT a.name AS name_a, b.name AS name_b
        FROM n a JOIN n b ON a.name < b.name
        WHERE abs(len(a.name) - len(b.name)) <= 3
          AND levenshtein(a.name, b.name) <= 3
    ), edges AS (
        SELECT name_a AS u, name_b AS v FROM pairs
        UNION SELECT name_b, name_a FROM pairs
    ), reach(u, label) AS (
        SELECT u, u AS label FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.u
    ), cl AS (
        SELECT u AS name, MIN(label) AS cluster_id FROM reach GROUP BY u
    ), withm AS (
        SELECT cl.name, cl.cluster_id, n.n_rows
        FROM cl JOIN n ON n.name = cl.name
    ), canon AS (
        SELECT cluster_id, name AS canonical_name FROM (
            SELECT cluster_id, name,
                   row_number() OVER (PARTITION BY cluster_id
                                      ORDER BY n_rows DESC, name) AS rn
            FROM withm) WHERE rn = 1
    )
    SELECT w.name, w.cluster_id, c.canonical_name, w.n_rows,
           w.name = c.canonical_name AS is_canonical
    FROM withm w JOIN canon c ON c.cluster_id = w.cluster_id
    """,
    ops=["entity-resolution", "connected-components", "canonicalize"],
)
def canonical_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity MERGE, completing the linkage pipeline: fuzzy name pairs
    → connected components over the match graph → one canonical
    spelling per cluster (highest row multiplicity, lexicographic
    tiebreak). The value-level analogue of dedup survivor selection;
    the oracle replays the fixpoint as a recursive CTE."""
    p = _t(spark, sf_dir, "part")
    vocab = linkage.name_vocabulary(p, "p_name")
    pairs = linkage.fuzzy_name_pairs(p, "p_name", max_distance=3).select(
        "name_a", "name_b"
    )
    cc = dedup.connected_components(pairs, "name_a", "name_b")
    joined = cc.join(vocab, cc["doc_id"] == vocab["name"]).select(
        "name", "cluster_id", "n_rows"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_rows").desc(), F.col("name")
    )
    canon = (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("cluster_id", F.col("name").alias("canonical_name"))
    )
    return joined.join(canon, "cluster_id").select(
        "name",
        "cluster_id",
        "canonical_name",
        "n_rows",
        (F.col("name") == F.col("canonical_name")).alias("is_canonical"),
    )


@register(
    "epoch_mixing_plan",
    """
    WITH t AS (
        SELECT source, CAST(ceil(length(text) / 4.0) AS BIGINT) AS tokens
        FROM documents
    ), c AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(tokens) AS BIGINT) AS avail_tokens,
               CASE source WHEN 'src0' THEN CAST(0.5 AS DOUBLE)
                           WHEN 'src1' THEN CAST(0.3 AS DOUBLE)
                           WHEN 'src2' THEN CAST(0.2 AS DOUBLE) END AS weight
        FROM t WHERE source IN ('src0', 'src1', 'src2')
        GROUP BY source
    )
    SELECT source, n_docs, avail_tokens, weight,
           CAST(FLOOR(CAST(100000 AS DOUBLE) * weight / CAST(1.0 AS DOUBLE))
                AS BIGINT) AS target_tokens,
           CAST(FLOOR(CAST(CAST(FLOOR(CAST(100000 AS DOUBLE) * weight
                                      / CAST(1.0 AS DOUBLE)) AS BIGINT)
                           AS DOUBLE) / avail_tokens * 1000000)
                AS BIGINT) AS epochs_fp6
    FROM c
    """,
    ops=["epoch-plan", "corpus-mixing", "A3"],
)
def epoch_mixing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch token budgeting (operators/mixing.py:epoch_plan):
    100k-token budget split 50/30/20 across three sources; scarce
    sources show epochs_fp6 > 10⁶ (repeat passes), abundant ones < 10⁶
    (sub-sampling)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.ceil(F.length("text") / F.lit(4.0)).cast("long").alias("tokens"),
    )
    return mixing.epoch_plan(
        toks,
        {"src0": 0.5, "src1": 0.3, "src2": 0.2},
        token_budget=100000,
    )


@register(
    "self_join_blowup_events",
    """
    WITH c AS (
        SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
    ), t AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
               CAST(SUM(cnt * cnt) AS BIGINT) AS predicted_pairs,
               CAST(MAX(cnt * cnt) AS BIGINT) AS max_key_pairs
        FROM c
    )
    SELECT n_rows, predicted_pairs, max_key_pairs,
           CAST(predicted_pairs AS DOUBLE) / n_rows AS blowup_factor,
           CAST(max_key_pairs AS DOUBLE) / predicted_pairs AS top_key_share
    FROM t
    """,
    ops=["join-planning", "skew-diagnostic", "A3"],
)
def self_join_blowup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact self-join cardinality prediction on events.user_id
    (operators/skew.py:self_join_blowup) — the Σcount² number that
    decides between plain shuffle join, salting, or a pre-join cap."""
    e = _t(spark, sf_dir, "events")
    return skew.self_join_blowup(e, "user_id")


@register(
    "stl_daily_revenue",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS v
        FROM orders GROUP BY day
    ), expanded AS (
        SELECT d.day + CAST(g.i AS INTEGER) AS anchor, d.v
        FROM daily d CROSS JOIN generate_series(-3, 3) AS g(i)
    ), tr AS (
        SELECT e.anchor AS day,
               CAST(SUM(e.v) AS DOUBLE) / COUNT(*) AS trend
        FROM expanded e JOIN daily a ON a.day = e.anchor
        GROUP BY e.anchor
    ), det AS (
        SELECT d.day, CAST(d.v AS DOUBLE) AS daily_rev, t.trend,
               CAST(dayofweek(d.day) + 1 AS INTEGER) AS weekday,
               CAST(d.v AS DOUBLE) - t.trend AS r
        FROM daily d JOIN tr t ON t.day = d.day
    ), seas AS (
        SELECT weekday,
               CAST(SUM(CAST(FLOOR(r * 1000000) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) / 1000000 AS seasonal
        FROM det GROUP BY weekday
    )
    SELECT det.day, det.daily_rev, det.trend, det.weekday, s.seasonal,
           det.r - s.seasonal AS remainder
    FROM det JOIN seas s ON s.weekday = det.weekday
    """,
    ops=["stl-decompose", "window-rolling", "timeseries"],
)
def stl_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite seasonal decomposition of daily revenue: trend =
    centered 7-day mean (bounded explode expansion, no range join),
    seasonal = per-weekday mean of the detrended series (fp6-floored
    before the cross-row sum, per convention 7), remainder = residual.
    The weekday-means relation is 7 rows, broadcast back."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(_dec2("o_totalprice")).alias("v")
    )
    anchors = daily.select(F.col("day").alias("anchor"))
    expanded = daily.select(
        F.explode(
            F.sequence(F.date_add("day", -3), F.date_add("day", 3))
        ).alias("anchor"),
        "v",
    ).join(anchors, "anchor", "left_semi")
    tr = expanded.groupBy(F.col("anchor").alias("day")).agg(
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias("trend")
    )
    r = F.col("daily_rev") - F.col("trend")
    det = daily.join(tr, "day").select(
        "day",
        F.col("v").cast("double").alias("daily_rev"),
        "trend",
        F.dayofweek("day").alias("weekday"),
    ).withColumn("r", r)
    seas = det.groupBy("weekday").agg(
        (
            F.sum(F.floor(F.col("r") * 1000000).cast("long")).cast("double")
            / F.count(F.lit(1))
            / F.lit(1000000)
        ).alias("seasonal")
    )
    return det.join(seas, "weekday").select(
        "day",
        "daily_rev",
        "trend",
        "weekday",
        "seasonal",
        (F.col("r") - F.col("seasonal")).alias("remainder"),
    )


@register(
    "strip_boilerplate_tokens",
    """
    WITH tok AS (
        SELECT doc_id,
               unnest(list_distinct(list_filter(
                   string_split(lower(text), ' '), x -> x <> ''))) AS token
        FROM documents
    ), tot AS (
        SELECT COUNT(*) AS n FROM documents
    ), stop AS (
        SELECT COALESCE(list(token ORDER BY token), []) AS sl
        FROM (
            SELECT token FROM tok, tot
            GROUP BY token, n
            HAVING COUNT(*) > FLOOR(0.9 * n)
        )
    )
    SELECT d.doc_id,
           array_to_string(list_filter(string_split(lower(d.text), ' '),
               x -> x <> '' AND NOT list_contains(s.sl, x)), ' ')
             AS cleaned_text,
           CAST(len(list_filter(string_split(lower(d.text), ' '),
               x -> x <> '')) AS INTEGER) AS n_tokens_before,
           CAST(len(list_filter(string_split(lower(d.text), ' '),
               x -> x <> '' AND NOT list_contains(s.sl, x))) AS INTEGER)
             AS n_tokens_after
    FROM documents d, stop s
    """,
    ops=["boilerplate-strip", "text-clean", "frequency-cap"],
)
def strip_boilerplate_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate removal at token granularity: tokens in
    >90% of documents are stripped from every document, text rebuilt
    in order (operators/text.py:strip_boilerplate — in-row filter
    against a broadcast stoplist, no per-row Python)."""
    d = _t(spark, sf_dir, "documents")
    return text.strip_boilerplate(d, max_df_frac=0.9)


@register(
    "basket_part_lift",
    """
    WITH rel AS (
        SELECT DISTINCT l_partkey AS pid, l_orderkey AS bid FROM lineitem
    ), sizes AS (
        SELECT pid, COUNT(*) AS nb FROM rel GROUP BY pid
    ), inter AS (
        SELECT a.pid AS id_a, b.pid AS id_b, COUNT(*) AS co
        FROM rel a JOIN rel b ON a.bid = b.bid AND a.pid < b.pid
        GROUP BY id_a, id_b
        HAVING COUNT(*) >= 3
    ), tot AS (
        SELECT COUNT(DISTINCT bid) AS n FROM rel
    )
    SELECT i.id_a, i.id_b, i.co,
           sa.nb AS n_a, sb.nb AS n_b,
           CAST(i.co AS DOUBLE) / t.n AS support,
           CAST(i.co AS DOUBLE) / sa.nb AS conf_a_to_b,
           CAST(i.co AS DOUBLE) * t.n / (sa.nb * sb.nb) AS lift
    FROM inter i
    JOIN sizes sa ON sa.pid = i.id_a
    JOIN sizes sb ON sb.pid = i.id_b
    CROSS JOIN tot t
    """,
    ops=["market-basket", "association-lift", "pair-explode"],
)
def basket_part_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining over lineitem: part pairs
    co-ordered ≥3 times with exact support / confidence / lift
    (operators/dedup.py:cooccurrence_lift_pairs — grouped pair-explode
    per order, 1-row basket-total broadcast)."""
    li = _t(spark, sf_dir, "lineitem")
    return dedup.cooccurrence_lift_pairs(
        li, id_col="l_partkey", item_col="l_orderkey", min_co=3
    )


@register(
    "streaming_curate_e2e",
    """
    WITH c AS (
        SELECT source,
               len(string_split(lower(text), ' ')) AS n_tokens,
               CAST(len(list_distinct(string_split(lower(text), ' ')))
                    AS DOUBLE)
                 / len(string_split(lower(text), ' ')) AS ttr,
               CAST(len(list_filter(string_split(lower(text), ' '),
                    x -> x IN ('the','and','of','to','in','is','a','that')))
                    AS DOUBLE)
                 / len(string_split(lower(text), ' ')) AS sr
        FROM documents
        WHERE CAST(('0x'||substring(
                  md5('scur:'||CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT)
              < CAST(2147483648 AS BIGINT)
    ), z AS (
        SELECT source,
               CAST(-0.8 AS DOUBLE) + CAST(1.2 AS DOUBLE) * ttr
                 + CAST(2.0 AS DOUBLE) * sr
                 + CAST(0.002 AS DOUBLE) * n_tokens AS z
        FROM c
    )
    SELECT source, COUNT(*) AS n_kept,
           CAST(SUM(CAST(FLOOR(z / (1 + abs(z)) * 1000000) AS BIGINT))
                AS BIGINT) AS sum_score_fp6
    FROM z
    WHERE z / (1 + abs(z)) >= 0.25
    GROUP BY source
    """,
    ops=["streaming-e2e", "streaming-curation", "model-quality-filter"],
)
def streaming_curate_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time curation in a stream: documents re-staged as a file
    stream pass the stateless hash-sample + frozen-weight quality gate
    (streaming/docs.py:curate_stream) and land via the exactly-once
    parquet file sink; the oracle replays the same deterministic
    predicates in batch. No state store anywhere — curation at ingest
    is pure map-side work per micro-batch."""

    from ..streaming.docs import run_stream_curate_to_parquet

    d = _t(spark, sf_dir, "documents")
    work = scratch_dir("curate_e2e", sf_dir, clean=True)
    src = f"{work}/src"
    d.repartition(4).write.mode("overwrite").parquet(src)
    run_stream_curate_to_parquet(
        spark, src, f"{work}/out", f"{work}/ckpt",
        keep_frac=0.5, seed="scur", tau=0.25,
    )
    kept = spark.read.parquet(f"{work}/out")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(F.floor(F.col("score") * 1000000).cast("long")).alias(
            "sum_score_fp6"
        ),
    )


@register(
    "cube_orders_status_year",
    """
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(CAST(year(o_orderdate) AS INTEGER), -1) AS order_year,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, CAST(year(o_orderdate) AS INTEGER))
    """,
    ops=["cube", "A3", "grouping-sets"],
)
def cube_orders_status_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (status, year): every subtotal combination in one
    pass — Spark expands the grouping sets map-side, one shuffle
    (completes the rollup/grouping-sets §2.8 family). NULL grouping
    slots are labeled so the oracle's rows align."""
    o = _t(spark, sf_dir, "orders")
    yr = F.year("o_orderdate").cast("int")
    return (
        o.cube(F.col("o_orderstatus"), yr.alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec2("o_totalprice")).cast("double").alias("total_revenue"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("order_year"), F.lit(-1)).alias("order_year"),
            "n_orders",
            "total_revenue",
        )
    )


__all__ = [n for n in globals() if not n.startswith("__")]
