"""Query registry — part 2/8 of the mechanical queries.py split.

Contiguous slice of the original module; see queries/_core.py for
the chaining scheme. Do not reorder across parts — registration
order is the driver-window rotation order.
"""

from __future__ import annotations

from ._p01 import *  # noqa: F401,F403



@register(
    "promo_revenue_share",
    """
    SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
           CAST(100.0 AS DOUBLE)
             * CAST(SUM(CASE WHEN p_type = 'PROMO'
                             THEN CAST(l_extendedprice AS DECIMAL(18,2))
                                  * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                             ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS promo_share_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY ship_year
    """,
    ops=["A3-conditional", "J1", "C7"],
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation ratio (promo revenue /
    total revenue) per ship year. Both sums are exact decimals; the
    ratio divides the surfaced doubles, identical on both engines."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    one = F.lit(1).cast("decimal(3,2)")
    rev = _dec2("l_extendedprice") * (one - F.col("l_discount").cast("decimal(4,2)"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_share_pct")
        )
    )


@register(
    "priority_lines_matrix",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    GROUP BY l_linestatus
    """,
    ops=["A3-conditional", "J1"],
)
def priority_lines_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: pivot-style conditional counts of order
    priority classes per line status. One shuffle join (orders ⋈
    lineitem on the order key — both large at scale, so sort-merge with
    AQE), one 3-group aggregation."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


@register(
    "having_large_volume_orders",
    """
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300
    )
    GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    """,
    ops=["A3", "F-having", "J1", "J4-semi"],
)
def having_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregation used as an IN
    subquery (semi join), then join-back to orders + customer and
    re-aggregate. The big-volume key set is tiny after HAVING, so the
    semi join broadcasts it; the partial agg before HAVING is the only
    full-lineitem shuffle."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    l = _t(spark, sf_dir, "lineitem")
    # the HAVING aggregate IS the output sum — carry it through the semi
    # filter instead of re-joining lineitem and re-aggregating (saves a
    # second full-lineitem shuffle join; o_orderkey is unique in orders
    # so the final grain is already one row per qualifying order)
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(_dec2("l_quantity")).alias("q"))
        .filter(F.col("q") > 300)
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            F.col("q").cast("double").alias("sum_qty"),
        )
    )
    return (
        o.join(F.broadcast(big), "o_orderkey")
        .join(c, c.c_custkey == o.o_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "sum_qty")
    )


@register(
    "nation_value_share",
    """
    WITH nat AS (
        SELECT s_nationkey,
               SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS nat_value
        FROM supplier GROUP BY s_nationkey
    ), tot AS (
        SELECT SUM(nat_value) AS total_value FROM nat
    )
    SELECT n.n_name,
           CAST(nat.nat_value AS DOUBLE) AS nation_value,
           CAST(nat.nat_value AS DOUBLE) / CAST(tot.total_value AS DOUBLE)
             AS value_share
    FROM nat CROSS JOIN tot
    JOIN nation n ON n.n_nationkey = nat.s_nationkey
    WHERE CAST(nat.nat_value AS DOUBLE)
          > CAST(0.05 AS DOUBLE) * CAST(tot.total_value AS DOUBLE)
    """,
    ops=["A3", "scalar-subquery", "F-having"],
)
def nation_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-group value filtered against a fraction of
    the GLOBAL total (scalar subquery). The global total re-aggregates
    the per-nation decimal sums — exact, so the 5% threshold compares
    identical doubles. Plan: one shuffle to nation grains, then the
    1-row total broadcasts back over it."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    nat = s.groupBy("s_nationkey").agg(F.sum(_dec2("s_acctbal")).alias("nat_value"))
    tot = nat.agg(F.sum("nat_value").alias("total_value"))
    return (
        nat.join(F.broadcast(tot))
        .filter(
            F.col("nat_value").cast("double")
            > F.lit(0.05).cast("double") * F.col("total_value").cast("double")
        )
        .join(F.broadcast(n), n.n_nationkey == F.col("s_nationkey"))
        .select(
            "n_name",
            F.col("nat_value").cast("double").alias("nation_value"),
            (
                F.col("nat_value").cast("double")
                / F.col("total_value").cast("double")
            ).alias("value_share"),
        )
    )


# =====================================================================
# Round 2 — training-data extensions: embedding-space near-dup pairs,
# IVF ANN, BPE pre-tokenization, multimodal frame sampling.
# =====================================================================


@register(
    "dedup_embedding_cosine",
    """
    SELECT * FROM (
        SELECT a.label AS block, a.vec_id AS vec_a, b.vec_id AS vec_b,
               list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                       s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(list_zip(a.embedding, a.embedding),
                                               s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(list_zip(b.embedding, b.embedding),
                                                 s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))))
                 AS cosine
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
          AND list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
    ) WHERE cosine >= 0.3
    """,
    ops=["dedup-embedding", "similarity-blocked"],
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs with coarse-quantizer
    blocking (pairs only form inside a cell) — the embedding analogue
    of MinHash candidate pairs. Within a block the result is exact,
    and the left-fold dot products are bit-identical to the oracle.

    SCALE NOTE: the 10-value label column is a FIXED-cardinality
    blocking key — cell population grows with the corpus, candidates
    Θ(n²/10), measured 159x on 10x data (BASELINE.md
    "Fixed-cardinality blocking"). The registered 100 TB form is
    `dedup_embedding_cosine_srp` (queries/_p11.py): adaptive-LSH
    cells bounded at 64 vectors by construction."""
    e = _t(spark, sf_dir, "embeddings", fanout=True)
    return similarity.cosine_pairs_blocked(e, block_col="label", threshold=0.3)


@register(
    "ivf_topk",
    """
    WITH q AS (
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
    )
    SELECT e.vec_id, e.label,
           list_sum(list_transform(list_zip(e.embedding, q.qv),
                                   s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(list_zip(e.embedding, e.embedding),
                                           s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))))
              * sqrt(list_sum(list_transform(list_zip(q.qv, q.qv),
                                             s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))))
             AS cosine
    FROM embeddings e JOIN probe USING (label), q
    WHERE list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
    ORDER BY cosine DESC, vec_id
    LIMIT 15
    """,
    ops=["similarity-ivf"],
)
def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: rank coarse cells by fixed-point centroid distance to
    the query, probe the 3 nearest cells, exact cosine top-15 inside
    them. Fully deterministic (nano-quantized centroid + distance sums)
    so even the approximate index path is oracle-checked — the scale
    story is partition-by-cell + partition pruning at the scan. The
    query vector is a 1-row broadcast relation
    (similarity.ivf_topk_rel) — no driver fetch."""
    e = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_topk_rel(
        e, e.filter(F.col("vec_id") == 0), k=15, nprobe=3
    )


@register(
    "bpe_token_estimate",
    """
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_bpe_tokens,
           CAST(len(list_distinct(toks)) AS INTEGER) AS n_unique_bpe_tokens,
           CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT)
             AS sum_token_chars,
           CAST(CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT)
                AS DOUBLE) / len(toks) AS mean_token_len
    FROM (
        SELECT doc_id,
               regexp_extract_all(lower(text),
                 '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]') AS toks
        FROM documents
    )
    """,
    ops=["text-bpe"],
)
def bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-2-style regex pre-tokenization (the deterministic split step
    before BPE merges) with per-doc token stats — pure map-side JVM
    regex, no shuffle; the pattern sticks to the Java∩RE2 syntax subset
    so both engines tokenize identically."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    return text.bpe_tokenize(d)


@register(
    "multimodal_frame_sample",
    """
    SELECT doc_id AS media_id,
           CAST(unnest(range(0,
                greatest(CAST(octet_length(encode(text)) / 100 AS INTEGER) - 1, 0) + 1,
                10)) AS INTEGER) AS frame_index
    FROM documents
    """,
    ops=["multimodal-frames"],
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: each payload expands to its
    sampled frame-index rows (every 10th frame; frame count is a
    deterministic fake derived from payload size — the decode itself is
    stubbed, see operators/multimodal.py). The explode keeps frame work
    row-parallel instead of per-video."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    media = multimodal.documents_as_media(d)
    return multimodal.frame_sample_plan(media, every_n=10)


@register(
    "events_sliding_windows",
    """
    WITH w AS (
        SELECT make_timestamp((epoch_us(ts) // 900000000 - k.k) * 900000000)
                 AS win_start,
               event_type, value
        FROM events CROSS JOIN (SELECT unnest(range(4)) AS k) k
    )
    SELECT win_start, event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM w GROUP BY win_start, event_type
    """,
    ops=["A3-sliding", "streaming-batch-parity"],
)
def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/15min windows per event type (each event lands in 4
    overlapping windows) — batch twin of streaming.sliding_agg. The
    oracle expands the window membership explicitly (k ∈ 0..3 hops on
    the exact microsecond grid), which is precisely Spark's internal
    Expand for sliding windows."""
    e = _t(spark, sf_dir, "events")
    from ..streaming.events import sliding_agg

    return sliding_agg(e)


@register(
    "json_props_extract",
    """
    SELECT event_type,
           COUNT(k) AS n_with_k,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           MIN(k) AS min_k,
           MAX(k) AS max_k
    FROM (
        SELECT event_type,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        FROM events
    )
    GROUP BY event_type
    """,
    ops=["json-extract", "S1-adjacent"],
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload access post-ingest: pull a typed field
    out of a JSON string column (the reference's nested-dict access,
    etl:171-179, generalized). get_json_object is JVM-side path
    evaluation — no Python, no full from_json schema needed for a
    single field."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@register(
    "grouping_sets_revenue",
    """
    SELECT r_name, n_name,
           CAST(GROUPING(r_name) AS INTEGER) AS g_region,
           CAST(GROUPING(n_name) AS INTEGER) AS g_nation,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
    """,
    ops=["A3-grouping-sets"],
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (finer than rollup/cube, which are also
    covered): per-(region,nation), per-region, and grand total in one
    pass, with GROUPING() markers disambiguating real NULLs from
    subtotal rows. Spark executes this as a single Expand + one
    aggregation — not three scans."""
    for t in ("orders", "customer", "nation", "region"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"gs_{t}")
    return spark.sql(
        """
        SELECT r_name, n_name,
               CAST(GROUPING(r_name) AS INT) AS g_region,
               CAST(GROUPING(n_name) AS INT) AS g_nation,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM gs_orders
        JOIN gs_customer ON o_custkey = c_custkey
        JOIN gs_nation ON c_nationkey = n_nationkey
        JOIN gs_region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
        """
    )


@register(
    "ntile_customer_quartiles",
    """
    SELECT c_nationkey, quartile,
           COUNT(*) AS n_customers,
           CAST(MIN(c_acctbal) AS DOUBLE) AS min_bal,
           CAST(MAX(c_acctbal) AS DOUBLE) AS max_bal
    FROM (
        SELECT c_nationkey, c_acctbal,
               NTILE(4) OVER (PARTITION BY c_nationkey
                              ORDER BY c_acctbal DESC, c_custkey) AS quartile
        FROM customer
    )
    GROUP BY c_nationkey, quartile
    """,
    ops=["§2.8", "window-ntile"],
)
def ntile_customer_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth quartiles per nation via NTILE — partitioned window
    (shuffles on nation, never a global sort), deterministic under ties
    via the custkey tiebreak. The bucketing-by-rank complement to the
    value-range Bucketizer query."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        c.select("c_nationkey", "c_acctbal", F.ntile(4).over(w).alias("quartile"))
        .groupBy("c_nationkey", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("c_acctbal").cast("double").alias("min_bal"),
            F.max("c_acctbal").cast("double").alias("max_bal"),
        )
    )


@register(
    "orders_above_customer_avg",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_above_avg
    FROM (
        SELECT o_orderpriority,
               CAST(o_totalprice AS DECIMAL(18,2)) AS price,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    OVER (PARTITION BY o_custkey) AS DOUBLE)
                 / COUNT(*) OVER (PARTITION BY o_custkey) AS cust_avg
        FROM orders
    )
    WHERE CAST(price AS DOUBLE) > cust_avg
    GROUP BY o_orderpriority
    """,
    ops=["§2.8", "scalar-subquery-correlated"],
)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated per-row scalar (each order vs ITS customer's average
    order value) decorrelated into a partitioned window — one shuffle on
    the customer key instead of a per-row subquery. The average is an
    exact decimal sum ÷ count so the comparison is engine-identical."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    price = _dec2("o_totalprice")
    cust_avg = F.sum(price).over(w).cast("double") / F.count(F.lit(1)).over(w)
    return (
        o.select(
            "o_orderpriority",
            price.alias("price"),
            cust_avg.alias("cust_avg"),
        )
        .filter(F.col("price").cast("double") > F.col("cust_avg"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_above_avg"))
    )


# =====================================================================
# Deterministic sampling — training-data curation (SURVEY §7 phase E).
# All four share the md5-prefix hash bucket, portable bit-for-bit:
# Spark conv(substring(md5(k),1,8),16,10) ≡ DuckDB
# ('0x'||substring(md5(k),1,8))::BIGINT.
# =====================================================================

# 0.25 * 2^32 — keep-threshold for a 25% hash sample.
_Q4 = 1 << 30


@register(
    "hash_sample_docs",
    f"""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE CAST(('0x'||substring(md5('s0:'||CAST(doc_id AS VARCHAR)),1,8))
               AS BIGINT) < {_Q4}
    """,
    ops=["sampling-hash"],
)
def hash_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 25% hash sample of documents: a pure map-side
    filter (no shuffle, no RNG state), seed-stable across re-runs —
    the scale-correct replacement for df.sample in curation pipelines."""
    d = _t(spark, sf_dir, "documents")
    return sampling.hash_sample(d, "doc_id", 0.25).select("doc_id", "lang", "n_chars")


@register(
    "rolling_distinct_users",
    """
    WITH pairs AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ), days AS (
        SELECT DISTINCT day FROM pairs
    ), expanded AS (
        SELECT p.day + CAST(g.i AS INTEGER) AS anchor, p.user_id
        FROM pairs p CROSS JOIN generate_series(0, 6) AS g(i)
    )
    SELECT d.day,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS exact_users_7d,
           TRUE AS sketch_within_5pct,
           CAST(0 AS BIGINT) AS err_permille_over_bound
    FROM days d JOIN expanded e ON e.anchor = d.day
    GROUP BY d.day
    """,
    ops=["approx-distinct-mergeable", "window-rolling"],
)
def rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users — the query shape where MERGEABLE
    sketches earn their keep at 100 TB: distinct counts don't sum
    across days, so the scalable plan materializes one HLL sketch PER
    DAY (tiny, mergeable, computed map-side in one pass) and unions 7
    sketches per output row, instead of re-scanning 7 days of raw
    events per day. Computed BOTH ways here: the exact twin via a
    day-range join over distinct (day, user) pairs (engine-identical,
    hashable), and the sketch path via hll_sketch_agg → hll_union_agg
    (Apache DataSketches). The oracle carries the exact counts plus a
    TRUE literal per row; the Spark side emits its own
    |estimate − exact| ≤ 5% flag — the hash matches only if every
    daily union-estimate lands inside the documented HLL error bound.
    (DuckDB cannot reproduce the sketch merge — its HLL is a different
    implementation — which is exactly why the exact-twin + bound-flag
    pattern is the oracle strategy, same as approx_sketches.)

    Plan note: the rolling window is an EQUI-join via bounded
    expansion — each day-row explodes to the exactly-7 window anchors
    it contributes to (explode(sequence(day, day+6))), and both the
    exact and sketch paths hash-join the expansion to the anchor-day
    set. The naive `p.day BETWEEN d.day-6 AND d.day` range join is a
    BroadcastNestedLoopJoin evaluating |days|x|rows| predicates —
    harmless at sf0.1, a scale-killer on a multi-year event table."""
    e = _t(spark, sf_dir, "events")
    pairs = e.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    days = pairs.select("day").distinct()
    anchors = days.select(F.col("day").alias("anchor"))
    win7 = F.explode(
        F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
    ).alias("anchor")
    exact = (
        pairs.select(win7, "user_id")
        .join(anchors, "anchor", "left_semi")
        .groupBy(F.col("anchor").alias("day"))
        .agg(F.countDistinct("user_id").cast("long").alias("exact_users_7d"))
    )
    # lgConfigK=14 => RSE 1.04/sqrt(2^14) ~ 0.8%, putting the 5% gate
    # at ~6 sigma. The default lgK=12 (~1.6% RSE) leaves 5% at ~3
    # sigma — with 30 output days that is a real per-run flake
    # probability for the correctness gate, not a code bug.
    daily_sk = pairs.groupBy("day").agg(
        F.hll_sketch_agg("user_id", 14).alias("sk")
    )
    rolled = (
        daily_sk.select(win7, "sk")
        .join(anchors, "anchor", "left_semi")
        .groupBy(F.col("anchor").alias("day"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_7d")
        )
    )
    rel_err = F.abs(F.col("est_7d") - F.col("exact_users_7d")) / F.col(
        "exact_users_7d"
    )
    return (
        exact.join(rolled, "day")
        .select(
            "day",
            "exact_users_7d",
            (rel_err <= F.lit(0.05)).alias("sketch_within_5pct"),
            # 0 whenever the flag holds (hash-stable vs the oracle's 0);
            # on a flake it quantifies the overshoot in permille so a
            # ~6-sigma estimator excursion (value 1-5) is readable in
            # the mismatch diff, distinct from a logic bug (large).
            F.greatest(
                F.lit(0), F.ceil((rel_err - 0.05) * 1000)
            ).cast("long").alias("err_permille_over_bound"),
        )
    )


@register(
    "consistent_user_sample",
    f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE CAST(('0x'||substring(md5('u0:'||CAST(user_id AS VARCHAR)),1,8))
               AS BIGINT) < {int(0.2 * (1 << 32))}
    GROUP BY event_type
    """,
    ops=["sampling-consistent", "sampling-hash"],
)
def consistent_user_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-CLOSED sampling: hash-sample 20% of USERS and keep ALL of
    each kept user's events — the property that makes hash sampling
    the scale tool for holdouts (a user's whole history lands on one
    side of the split; row-level sampling would shear histories apart
    and leak across train/eval). The sampling key is user_id while the
    row grain is events: one map-side predicate, no user-table join,
    consistent across every table keyed by the same id."""
    e = _t(spark, sf_dir, "events")
    kept = sampling.hash_sample(e, key_col="user_id", rate=0.2, seed="u0")
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


@register(
    "balanced_lang_mix",
    """
    WITH counts AS (
        SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ), thr AS (
        SELECT lang,
               ((SELECT MIN(n) FROM counts) * 4294967296) // n AS t
        FROM counts
    )
    SELECT d.lang,
           COUNT(*) AS n_kept,
           CAST(SUM(d.n_chars) AS BIGINT) AS kept_chars
    FROM documents d JOIN thr ON thr.lang = d.lang
    WHERE CAST(('0x'||substring(md5('mix0:'||CAST(d.doc_id AS VARCHAR)),1,8))
               AS BIGINT) < thr.t
    GROUP BY d.lang
    """,
    ops=["sampling-balanced-mix", "sampling-stratified"],
)
def balanced_lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-mix rebalancing with DATA-DERIVED rates: every language
    downsampled to ~the smallest language's size via deterministic
    hash sampling — the balanced-corpus step of a curation pipeline.
    Thresholds are exact integer math ((n_min·2^32) div n), so both
    engines select the identical row set."""
    d = _t(spark, sf_dir, "documents")
    kept = sampling.balance_to_min_stratum(
        d, strata_col="lang", key_col="doc_id", seed="mix0"
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("long").alias("kept_chars"),
    )


@register(
    "stratified_lang_sample",
    f"""
    SELECT lang,
           COUNT(*) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS kept_chars
    FROM documents
    WHERE CAST(('0x'||substring(md5('s0:'||CAST(doc_id AS VARCHAR)),1,8))
               AS BIGINT)
          < CASE lang WHEN 'en' THEN {int(0.25 * (1 << 32))}
                      WHEN 'de' THEN {int(0.5 * (1 << 32))}
                      WHEN 'fr' THEN {int(0.5 * (1 << 32))}
                      WHEN 'es' THEN {int(0.75 * (1 << 32))}
                      WHEN 'zh' THEN {1 << 32}
                      ELSE 0 END
    GROUP BY lang
    """,
    ops=["sampling-stratified"],
)
def stratified_lang_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language rebalancing: per-stratum hash rates (downsample the
    dominant language, keep all of the low-resource ones) as one
    map-side CASE filter — no join, no shuffle before the final agg."""
    d = _t(spark, sf_dir, "documents")
    kept = sampling.stratified_hash_sample(
        d,
        "doc_id",
        "lang",
        rates={"en": 0.25, "de": 0.5, "fr": 0.5, "es": 0.75, "zh": 1.0},
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("long").alias("kept_chars"),
    )


@register(
    "quota_sample_per_lang",
    """
    SELECT doc_id, lang
    FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY CAST(('0x'||substring(
                                md5('s0:'||CAST(doc_id AS VARCHAR)),1,8))
                            AS BIGINT), doc_id
               ) AS rk
        FROM documents
    )
    WHERE rk <= 20
    """,
    ops=["sampling-quota"],
)
def quota_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-20-per-language uniform sample: rank by key hash inside
    each stratum, keep the first 20 — the distributed, deterministic
    replacement for reservoir sampling (one shuffle on the stratum)."""
    d = _t(spark, sf_dir, "documents")
    return sampling.quota_per_group(d, "lang", 20, "doc_id").select("doc_id", "lang")


@register(
    "train_holdout_split",
    f"""
    SELECT CASE WHEN CAST(('0x'||substring(
                       md5('split:'||CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT)
                     < {int(0.2 * (1 << 32))}
                THEN 'holdout' ELSE 'train' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
    FROM documents
    GROUP BY 1
    """,
    ops=["sampling-split"],
)
def train_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/holdout tagging by key hash (a key lands on
    the same side across runs and across tables sharing the key),
    summarized per side."""
    d = _t(spark, sf_dir, "documents")
    tagged = sampling.split_train_holdout(d, "doc_id", holdout_rate=0.2)
    return tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars_total"),
    )


# =====================================================================
# CDC / snapshot diff — the incremental-load primitive the reference's
# rerun-everything ON CONFLICT path (etl:335-368) cannot provide at
# scale.
# =====================================================================


@register(
    "cdc_order_changes",
    """
    WITH old AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 10 < 8
    ), new AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 7 = 0
                    THEN o_totalprice + 1.0 ELSE o_totalprice END
                   AS o_totalprice
        FROM orders WHERE o_orderkey % 10 >= 2
    )
    SELECT CASE WHEN old.o_orderkey IS NULL THEN 'added'
                WHEN new.o_orderkey IS NULL THEN 'removed'
                WHEN old.o_orderstatus IS DISTINCT FROM new.o_orderstatus
                     OR old.o_totalprice IS DISTINCT FROM new.o_totalprice
                THEN 'changed' ELSE 'unchanged' END AS change_type,
           COUNT(*) AS n_keys,
           CAST(SUM(COALESCE(old.o_orderkey, new.o_orderkey)) AS BIGINT)
               AS key_checksum
    FROM old FULL OUTER JOIN new USING (o_orderkey)
    GROUP BY 1
    """,
    ops=["cdc-snapshot-diff"],
)
def cdc_order_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two simulated order extracts (yesterday =
    keys %10<8, today = keys %10>=2 with every 7th price bumped):
    full-outer join on the key comparing map-side row digests, then a
    change_type census. At 100 TB this is the O(|delta|) alternative to
    reprocessing the table."""
    o = _t(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 10 < 8)
    new = o.filter(F.col("o_orderkey") % 10 >= 2).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    )
    diff = cdc.snapshot_diff(
        old, new, keys=["o_orderkey"], compare_cols=["o_orderstatus", "o_totalprice"]
    )
    return diff.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("o_orderkey").cast("long").alias("key_checksum"),
    )


# =====================================================================
# Text repetition + SimHash near-dup pairs — Gopher-style quality
# signals and the banded Hamming join (Manku WWW'07).
# =====================================================================


@register(
    "doc_repetition_stats",
    """
    WITH tok AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), bg AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 1),
                                     i -> t[i] || ' ' || t[i + 1])) AS g
        FROM tok WHERE len(t) >= 2
    ), tg AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 2),
                                     i -> t[i] || ' ' || t[i + 1]
                                          || ' ' || t[i + 2])) AS g
        FROM tok WHERE len(t) >= 3
    ), big AS (
        SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
               MAX(cnt) AS top_bigram_cnt
        FROM (SELECT doc_id, g, COUNT(*) AS cnt FROM bg GROUP BY doc_id, g)
        GROUP BY doc_id
    ), tri AS (
        SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_trigrams,
               CAST(COUNT(*) AS BIGINT) AS n_unique_trigrams
        FROM (SELECT doc_id, g, COUNT(*) AS cnt FROM tg GROUP BY doc_id, g)
        GROUP BY doc_id
    )
    SELECT big.doc_id, n_bigrams,
           CAST(top_bigram_cnt AS DOUBLE) / n_bigrams AS top_bigram_share,
           CAST(n_trigrams - n_unique_trigrams AS DOUBLE) / n_trigrams
               AS dup_trigram_frac
    FROM big JOIN tri ON big.doc_id = tri.doc_id
    """,
    ops=["text-repetition"],
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals (top-bigram share, duplicated-trigram
    fraction) per document — boilerplate/machine-text detectors,
    computed by one ngram explode + two-level aggregation."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    return text.repetition_stats(d)


@register(
    "simhash_near_pairs",
    """
    WITH tok AS (
        SELECT DISTINCT doc_id, token FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
            FROM documents
        ) WHERE token != ''
    ), bits AS (
        SELECT doc_id, bit_pos,
               SUM(CASE WHEN substr(md5(token), CAST(bit_pos AS INTEGER), 1)
                             IN ('1','3','5','7','9','b','d','f')
                        THEN 1 ELSE -1 END) AS s
        FROM tok CROSS JOIN (SELECT unnest(range(1, 33)) AS bit_pos) b
        GROUP BY doc_id, bit_pos
    ), sig AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN s > 0
                             THEN 1::BIGINT << CAST(bit_pos - 1 AS INTEGER)
                             ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id
    ), banded AS (
        SELECT doc_id, simhash, band,
               (simhash // (1::BIGINT << CAST(band * 8 AS INTEGER))) % 256
                   AS band_val
        FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    ops=["dedup-simhash-pairs"],
)
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs at Hamming distance ≤ 3 over 32-bit SimHash:
    4-band pigeonhole blocking (≥1 identical 8-bit slice is guaranteed)
    turns the O(n²) all-pairs scan into a bucket self-join, verified by
    one XOR+popcount."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    sig = dedup.simhash(d, bits=32)
    pairs = dedup.simhash_hamming_pairs(sig, max_hamming=3, bits=32, n_bands=4)
    return pairs.withColumn("hamming", F.col("hamming").cast("int"))


# =====================================================================
# TPC-H breadth, part 3: Q7/Q8/Q10/Q15 shapes (adapted to the testdata
# schema — no partsupp table, so supply-cost terms are out of scope).
# =====================================================================


@register(
    "nation_pair_volume",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
               CAST(l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                 AS volume
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
    ops=["J1", "A3", "tpch-q7"],
)
def nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by
    year. Six-table join where every dimension side broadcasts and the
    nation filter prunes BEFORE the fact join (Catalyst pushes the
    disjunction into the two broadcast nation sides); lineitem streams
    through one stage, shuffling only for the 3-key final agg."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    one = F.lit(1).cast("decimal(3,2)")
    vol = _dec2("l_extendedprice") * (one - F.col("l_discount").cast("decimal(4,2)"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        l.join(F.broadcast(s.select("s_suppkey", "s_nationkey")), l.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(o.select("o_orderkey", "o_custkey")), l.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(c.select("c_custkey", "c_nationkey")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
            vol.alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.sum("volume").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "nation_market_share",
    """
    SELECT o_year,
           CAST(SUM(volume) AS DOUBLE) AS total_rev,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume END)
                AS DOUBLE) AS nation_rev,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume END)
                AS DOUBLE) / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM (
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
               n1.n_name AS supp_nation,
               CAST(l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                 AS volume
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        JOIN region ON n2.n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
    )
    GROUP BY o_year
    """,
    ops=["J1", "A3", "tpch-q8"],
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of the European
    customers' market by year. The share divides two decimal-exact
    aggregates (cast to double AFTER summing) so both engines produce
    the identical IEEE quotient; the conditional sum uses CASE-without-
    ELSE (nulls are ignored by SUM) instead of a 0-literal whose type
    would have to match the decimal volume."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region"))
    one = F.lit(1).cast("decimal(3,2)")
    vol = _dec2("l_extendedprice") * (one - F.col("l_discount").cast("decimal(4,2)"))
    base = (
        l.join(F.broadcast(s.select("s_suppkey", "s_nationkey")), l.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(o.select("o_orderkey", "o_custkey", "o_orderdate")), l.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(c.select("c_custkey", "c_nationkey")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_region") == F.col("r_regionkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            F.col("supp_nation"),
            vol.alias("volume"),
        )
    )
    nation_vol = F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("volume")))
    return base.groupBy("o_year").agg(
        F.sum("volume").cast("double").alias("total_rev"),
        nation_vol.cast("double").alias("nation_rev"),
        (nation_vol.cast("double") / F.sum("volume").cast("double")).alias("mkt_share"),
    )


@register(
    "returned_item_customers",
    """
    SELECT c_custkey, c_name, n_name,
           CAST(c_acctbal AS DOUBLE) AS acctbal,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
                AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-07-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name, c_acctbal
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    ops=["J1", "A3", "§2.8", "tpch-q10"],
)
def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by lost revenue from returned
    items in a half-year window. Revenue is decimal-exact before the
    double cast, and the top-k order carries the c_custkey tiebreaker
    (convention 4) so the LIMIT frontier is engine-identical."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    one = F.lit(1).cast("decimal(3,2)")
    vol = _dec2("l_extendedprice") * (one - F.col("l_discount").cast("decimal(4,2)"))
    return (
        l.join(F.broadcast(o.select("o_orderkey", "o_custkey")), l.l_orderkey == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(F.sum(vol).cast("double").alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.col("c_acctbal").cast("double").alias("acctbal"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "top_revenue_supplier",
    """
    WITH rev AS (
        SELECT l_suppkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(3,2))
                           - CAST(l_discount AS DECIMAL(4,2))))
                    AS DOUBLE) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
    ops=["J1", "A3", "scalar-subquery", "tpch-q15"],
)
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) achieving the maximum quarterly
    revenue. The scalar MAX subquery decorrelates into a 1-row broadcast
    cross-join against the per-supplier revenue aggregate (computed
    once, reused for both sides); equality on the decimal-exact double
    is portable because both engines compare identical bit patterns."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    one = F.lit(1).cast("decimal(3,2)")
    vol = _dec2("l_extendedprice") * (one - F.col("l_discount").cast("decimal(4,2)"))
    rev = l.groupBy("l_suppkey").agg(F.sum(vol).cast("double").alias("total_revenue"))
    max_rev = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.join(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(s.select("s_suppkey", "s_name")), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "tfidf_top_terms",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents
    ), tk AS (
        SELECT doc_id, term FROM toks WHERE term <> ''
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY doc_id, term
    ), dfreq AS (
        SELECT term, COUNT(*) AS df
        FROM (SELECT DISTINCT doc_id, term FROM tk) GROUP BY term
    ), n AS (
        SELECT COUNT(*) AS _n FROM documents
    ), scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
               CAST(tf.tf AS DOUBLE) * CAST(_n AS DOUBLE) / CAST(dfreq.df AS DOUBLE) AS score
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, score, CAST(rk AS INTEGER) AS rk
    FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, term) AS rk
        FROM scored
    )
    WHERE rk <= 3
    """,
    ops=["text-tfidf", "A3", "W2"],
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most characteristic terms per document by TF·IDF (linear
    idf — same ranking as log-idf, but exactly-rounded IEEE ops only,
    so cross-engine bit-identical). Two shuffles on the term key plus a
    per-doc top-k window; the 1-row corpus count is a broadcast."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    return text.top_terms_tfidf(d, k=3)


@register(
    "dedup_jaccard_df_capped",
    f"""
    WITH {_SHINGLES_CTE}, capped AS (
        SELECT sh.doc_id, sh.shingle
        FROM sh
        JOIN (
            SELECT shingle FROM sh
            GROUP BY shingle
            HAVING COUNT(*) <= floor(
                0.02 * (SELECT COUNT(DISTINCT doc_id) FROM sh))
        ) keep USING (shingle)
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS set_size FROM capped GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM capped a JOIN capped b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY id_a, id_b
    )
    SELECT id_a, id_b, n_common, sa.set_size AS size_a, sb.set_size AS size_b,
           CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) >= 0.5
    """,
    ops=["dedup-jaccard", "dedup-df-cap"],
)
def dedup_jaccard_df_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard near-dup pairs AFTER stop-shingle removal (drop shingles
    in > 2% of docs). The df cap is what keeps the shingle self-join
    sub-quadratic at 100 TB — candidate volume is Σ df(shingle)², so
    removing boilerplate shingles collapses the fan-out while barely
    moving Jaccard for true near-dups."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    sets = dedup.ngram_set(d, n=3)
    return dedup.jaccard_pairs_df_capped(
        sets, max_df_frac=0.02, item_col="shingle", threshold=0.5
    )


@register(
    "pack_sequences",
    """
    WITH t AS (
        SELECT doc_id, lang,
               CAST(ceil(length(text) / 4.0) AS BIGINT) AS tokens
        FROM documents
    )
    SELECT doc_id, lang, tokens,
           CAST(SUM(tokens) OVER w - tokens AS BIGINT) AS seq_offset,
           CAST(SUM(tokens) OVER w - tokens AS BIGINT) // 2048 AS seq_no
    FROM t
    WINDOW w AS (PARTITION BY lang ORDER BY doc_id)
    """,
    ops=["pack-contiguous", "W1"],
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: assign each document to a
    fixed 2048-token-budget sequence within its language shard via
    contiguous start-offset packing (cumsum div budget) — one window
    per shard, no sequential state, no driver loop."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.ceil(F.length("text") / F.lit(4.0)).cast("long").alias("tokens"),
    )
    return packing.pack_contiguous(
        toks, budget=2048, tokens_col="tokens", shard_col="lang"
    ).select("doc_id", "lang", "tokens", "seq_offset", "seq_no")


@register(
    "pack_stats_per_lang",
    """
    WITH t AS (
        SELECT doc_id, lang,
               CAST(ceil(length(text) / 4.0) AS BIGINT) AS tokens
        FROM documents
    ), packed AS (
        SELECT lang, tokens,
               CAST(SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id)
                    - tokens AS BIGINT) // 2048 AS seq_no
        FROM t
    )
    SELECT lang,
           CAST(COUNT(DISTINCT seq_no) AS BIGINT) AS n_sequences,
           CAST(SUM(tokens) AS BIGINT) AS total_tokens,
           COUNT(*) AS n_docs
    FROM packed
    GROUP BY lang
    """,
    ops=["pack-contiguous", "A3"],
)
def pack_stats_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard packing summary (sequences, tokens, docs) over the
    contiguous packer — the fill-ratio report a pipeline emits before
    shipping a packed dataset to training."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.ceil(F.length("text") / F.lit(4.0)).cast("long").alias("tokens"),
    )
    packed = packing.pack_contiguous(
        toks, budget=2048, tokens_col="tokens", shard_col="lang"
    )
    return packing.packing_stats(packed, tokens_col="tokens", shard_col="lang")


@register(
    "embedding_int8_quantization",
    """
    WITH vd AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), staged AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) AS scale,
               CAST(len(v) AS INTEGER) AS dim
        FROM vd
    )
    SELECT vec_id, scale,
           array_to_string(
               CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS VARCHAR))
                    ELSE list_transform(v, x -> CAST(CAST(floor(x / scale * 127) AS INTEGER) AS VARCHAR))
               END, ',') AS codes,
           dim
    FROM staged
    """,
    ops=["embedding-quantize"],
)
def embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding table (the
    4× storage cut before ANN): per-vector max-abs scale, exact IEEE
    widen/divide/floor so the codes are bit-identical cross-engine.
    Map-side only — the scale column is materialized before the code
    transform to avoid per-element re-inlining.

    The query projects ``codes`` as a comma-joined string: the driver's
    result canonicalizer hashes scalar cells and chokes on array cells
    (round-3 `TypeError: unhashable type: 'numpy.ndarray'`), so every
    registered query keeps its output schema array-free. ANN consumers
    (`ann_int8_topk`) use the operator's native array form directly."""
    e = _t(spark, sf_dir, "embeddings")
    q = similarity.quantize_embeddings(e)
    return q.withColumn("codes", F.array_join(F.col("codes").cast("array<string>"), ","))


@register(
    "user_journey_prefixes",
    """
    WITH firsts AS (
        SELECT user_id, event_type, ts, event_id,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ), paths AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM firsts
        WHERE rn <= 5
        GROUP BY user_id
    )
    SELECT path, COUNT(*) AS n_users
    FROM paths
    GROUP BY path
    ORDER BY n_users DESC, path
    LIMIT 20
    """,
    ops=["journey-paths", "W1", "A-ordered"],
)
def user_journey_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Journey mining: each user's first-5-event path (event types
    joined in time order) and the 20 most common prefixes. Ordered
    string_agg = array_sort(collect_list(struct)) with the
    (ts, event_id) tiebreak; the prefix cap keeps state bounded no
    matter how long user histories grow."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firsts = (
        e.select("user_id", "event_type", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
    )
    paths = firsts.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda d: d.event_type,
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(20)
    )


@register(
    "ann_int8_topk",
    """
    WITH vd AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), staged AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) AS scale
        FROM vd
    ), quant AS (
        SELECT vec_id,
               CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
                    ELSE list_transform(v, x -> CAST(floor(x / scale * 127) AS INTEGER))
               END AS codes
        FROM staged
    ), q AS (
        SELECT codes AS qc FROM quant WHERE vec_id = 0
    ), scored AS (
        SELECT vec_id,
               list_dot_product(codes, qc) AS dot,
               list_dot_product(codes, codes) AS na2,
               list_dot_product(qc, qc) AS nb2
        FROM quant CROSS JOIN q
        WHERE vec_id <> 0
    )
    SELECT vec_id, dot,
           dot / (sqrt(na2) * sqrt(nb2)) AS cos_int8
    FROM scored
    WHERE na2 > 0
    ORDER BY cos_int8 DESC, vec_id
    LIMIT 10
    """,
    ops=["ann-int8", "similarity-topk"],
)
def ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 nearest neighbors of vector 0 computed ON the int8 codes:
    integer dot products (exact — ≤127²·dim ≪ 2^53, so the double cast
    is lossless and cross-engine identical) scaled into an approximate
    cosine. The compute path that justifies quantization: 4× less data
    moved per distance, same broadcast-query/TakeOrdered plan as the
    float baseline."""
    quant = similarity.quantize_embeddings(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", "codes"
    )
    # The query self-dot is computed ONCE on the 1-row broadcast side —
    # evaluating it per data row (3 fold-aggregates/row) was one third
    # of the query's per-row cost for a constant answer. A driver-side
    # probe fetch (.first() + literal array) was measured SLOWER here:
    # the extra probe job re-runs quantization, costing more than the
    # fold it saves.
    q = (
        quant.filter(F.col("vec_id") == 0)
        .select(F.col("codes").alias("qc"))
        .select(
            "qc",
            similarity._idot(F.col("qc"), F.col("qc")).cast("double").alias("nb2"),
        )
    )
    scored = (
        quant.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            similarity._idot(F.col("codes"), F.col("qc")).cast("double").alias("dot"),
            similarity._idot(F.col("codes"), F.col("codes")).cast("double").alias("na2"),
            "nb2",
        )
    )
    return (
        scored.filter(F.col("na2") > 0)
        .select(
            "vec_id",
            "dot",
            (F.col("dot") / (F.sqrt("na2") * F.sqrt("nb2"))).alias("cos_int8"),
        )
        .orderBy(F.col("cos_int8").desc(), "vec_id")
        .limit(10)
    )


@register(
    "curation_pipeline_stats",
    f"""
    WITH scored AS (
        SELECT doc_id, lang, text,
               string_split(lower(text), ' ') AS toks
        FROM documents
    ), quality AS (
        SELECT doc_id, lang, text
        FROM scored
        WHERE len(toks) >= 20 AND len(toks) <= 1000
          AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.3
    ), survivors AS (
        SELECT q.doc_id, q.lang, q.text
        FROM quality q
        JOIN (
            SELECT md5(text) AS h, MIN(doc_id) AS keep_id
            FROM quality GROUP BY md5(text)
        ) k ON q.doc_id = k.keep_id
    ), sampled AS (
        SELECT doc_id, lang, text FROM survivors
        WHERE CAST(('0x'||substring(md5('cur0:'||CAST(doc_id AS VARCHAR)),1,8))
                   AS BIGINT) < {1 << 31}
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(ceil(length(text) / 4.0) AS BIGINT)) AS BIGINT)
               AS total_tokens
    FROM sampled
    GROUP BY lang
    """,
    ops=["curation-pipeline", "text-quality", "dedup-exact", "sampling-hash", "A3"],
)
def curation_pipeline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline in ONE lazy plan: quality filter
    (length band + type-token ratio) → exact-dedup survivors (keep min
    id per content hash) → deterministic 50% hash sample → per-language
    token-budget stats. The composition is the point: every stage is
    the library operator, Catalyst fuses the map-side stages, and the
    only shuffles are the dedup hash-group and the final lang rollup."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    quality = d.filter(
        (F.size(toks) >= 20)
        & (F.size(toks) <= 1000)
        & (F.size(F.array_distinct(toks)).cast("double") / F.size(toks) >= 0.3)
    ).select("doc_id", "lang", "text")
    keep = (
        quality.select(F.md5("text").alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"))
        .select(F.col("keep_id").alias("doc_id"))
    )
    survivors = quality.join(keep, "doc_id", "left_semi")
    sampled = sampling.hash_sample(survivors, key_col="doc_id", rate=0.5, seed="cur0")
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.ceil(F.length("text") / F.lit(4.0)).cast("long"))
        .cast("long")
        .alias("total_tokens"),
    )


@register(
    "doc_chunks_512",
    """
    WITH t AS (
        SELECT doc_id, text,
               greatest(CAST(ceil(length(text) / 512.0) AS INTEGER), 1) AS n
        FROM documents
    )
    SELECT doc_id,
           CAST(unnest(range(0, n)) AS INTEGER) AS chunk_index,
           substr(text, unnest(range(0, n)) * 512 + 1, 512) AS chunk
    FROM t
    """,
    ops=["text-chunking"],
)
def doc_chunks_512(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split each document into 512-char
    chunks as one codegen'd projection (sequence + transform +
    posexplode) — the RAG/training chunker without a UDTF."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    return text.chunk_text(d, chunk_chars=512)


@register(
    "corpus_vocabulary_topk",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents
    ), tk AS (
        SELECT doc_id, term FROM toks WHERE term <> ''
    )
    SELECT term,
           COUNT(*) AS freq,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM tk
    GROUP BY term
    ORDER BY freq DESC, term
    LIMIT 50
    """,
    ops=["vocab-topk", "A3", "A-distinct"],
)
def corpus_vocabulary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary profile: the 50 most frequent terms with
    collection and document frequency — the dataset-card staple. One
    shuffle on the term; the global top-50 runs as TakeOrdered (no full
    sort materialization); term tiebreak keeps the cut deterministic."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    tk = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    return (
        tk.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.count_distinct("doc_id").cast("long").alias("doc_freq"),
        )
        .orderBy(F.col("freq").desc(), "term")
        .limit(50)
    )


@register(
    "salted_event_totals",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    """,
    ops=["skew-salted-agg", "A3"],
)
def salted_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation of the 5-hot-key event stream: the
    salt spreads each hot key over 16 reducers before the combine on
    the key alone. The oracle is the PLAIN group-by — the hash match
    proves the salted rewrite is semantics-preserving (algebraic
    aggregates in exact decimal)."""
    e = _t(spark, sf_dir, "events")
    aggs = {
        "n_events": (F.count(F.lit(1)), "sum"),
        "total_value": (F.sum(F.col("value").cast(DEC6)), "sum"),
    }
    out = skew.salted_agg(e, ["event_type"], aggs, salt_buckets=16)
    return out.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("total_value").cast("double").alias("total_value"),
    )


@register(
    "pii_redaction_report",
    r"""
    WITH s1 AS (
        SELECT doc_id, text AS t1,
               CAST(len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                    AS INTEGER) AS n_email,
               regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<email>', 'g') AS t2
        FROM documents
    ), s2 AS (
        SELECT doc_id, n_email,
               CAST(len(regexp_extract_all(t2,
                   '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}'))
                    AS INTEGER) AS n_ipv4,
               regexp_replace(t2,
                   '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}',
                   '<ipv4>', 'g') AS t3
        FROM s1
    )
    SELECT doc_id, n_email, n_ipv4,
           CAST(len(regexp_extract_all(t3, '[0-9]{6,}')) AS INTEGER)
               AS n_long_digits,
           regexp_replace(t3, '[0-9]{6,}', '<long_digits>', 'g') AS redacted
    FROM s2
    """,
    ops=["pii-redaction"],
)
def pii_redaction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the corpus: emails, IPv4s, long digit runs →
    typed placeholders, with per-doc replacement counts. Map-side JVM
    regex in the Java∩RE2 syntax subset; each count is taken after the
    earlier redactions so counts ≡ replacements performed."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    return text.redact_pii(d)


@register(
    "multimodal_audio_chunks",
    """
    WITH media AS (
        SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes
        FROM documents
    )
    SELECT media_id,
           CAST(unnest(range(0, greatest(CAST(ceil(n_bytes / 160.0) AS INTEGER), 1)))
                AS INTEGER) AS chunk_index,
           CAST(unnest(range(0, greatest(CAST(ceil(n_bytes / 160.0) AS INTEGER), 1)))
                * 160 AS BIGINT) AS byte_offset,
           least(160,
                 n_bytes - unnest(range(0, greatest(CAST(ceil(n_bytes / 160.0)
                                                         AS INTEGER), 1))) * 160)
               AS byte_length
    FROM media
    """,
    ops=["multimodal-audio"],
)
def multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio chunking plumbing over the binary-payload view of
    documents: each payload expands to fixed-size chunk rows carrying
    (offset, length) so a real decoder would read only its slice —
    chunk work parallel across the cluster, not per-file."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    media = multimodal.documents_as_media(d)
    return multimodal.audio_chunk_plan(media, chunk_ms=10, bytes_per_ms=16)


@register(
    "incremental_agg_maintenance",
    """
    WITH new AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 7 = 0
                    THEN o_totalprice + 1.0 ELSE o_totalprice END
                   AS o_totalprice
        FROM orders WHERE o_orderkey % 10 >= 2
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM new GROUP BY o_orderstatus
    """,
    ops=["cdc-incremental-agg", "A3"],
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the per-status (count, sum)
    aggregate of snapshot v2 computed by applying the v1→v2 CDC delta
    to v1's aggregate — O(|delta| + |groups|) work instead of a full
    recompute. The oracle aggregates v2 directly, so the hash match
    PROVES retract/insert maintenance is exact (decimal fixed-point —
    float retraction would drift)."""
    o = _t(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 10 < 8).select(
        "o_orderkey", "o_orderstatus", _dec2("o_totalprice").alias("o_totalprice")
    )
    v2 = o.filter(F.col("o_orderkey") % 10 >= 2).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + F.lit(1.0)
        )
        .otherwise(F.col("o_totalprice"))
        .cast(DEC2)
        .alias("o_totalprice"),
    )
    prior = v1.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_totalprice").cast(DEC2).alias("total_price"),
    )
    diff = cdc.snapshot_diff(
        v1, v2, keys=["o_orderkey"], compare_cols=["o_orderstatus", "o_totalprice"]
    )
    updated = cdc.incremental_agg_update(
        prior,
        diff,
        group_col="o_orderstatus",
        val_col="o_totalprice",
        count_col="n_orders",
        sum_col="total_price",
    )
    return updated.select(
        "o_orderstatus",
        "n_orders",
        F.col("total_price").cast("double").alias("total_price"),
    )


@register(
    "daily_revenue_momentum",
    """
    WITH daily AS (
        SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
               CAST(o_orderdate AS DATE) AS o_day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders
        WHERE year(o_orderdate) = 1997
        GROUP BY o_year, o_day
    )
    SELECT o_year, o_day, revenue,
           revenue - lag(revenue) OVER w AS delta_prev_day,
           lead(revenue) OVER w - revenue AS delta_next_day,
           percent_rank() OVER (PARTITION BY o_year ORDER BY revenue, o_day)
             AS revenue_pctile,
           cume_dist() OVER (PARTITION BY o_year ORDER BY revenue, o_day)
             AS revenue_cume
    FROM daily
    WINDOW w AS (PARTITION BY o_year ORDER BY o_day)
    """,
    ops=["W-lag-lead", "W-pctrank", "A3"],
)
def daily_revenue_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth on one plan: lag/lead day-over-day
    deltas plus percent_rank/cume_dist of each day within its year.
    Both windows partition by year, so no global single-partition sort;
    deltas subtract decimal-exact doubles (identical operands ⇒
    identical IEEE results); rank orderings carry the day tiebreaker."""
    o = _t(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1997)
    daily = o.groupBy(
        F.year("o_orderdate").alias("o_year"),
        F.col("o_orderdate").cast("date").alias("o_day"),
    ).agg(F.sum(_dec2("o_totalprice")).cast("double").alias("revenue"))
    w = Window.partitionBy("o_year").orderBy("o_day")
    wr = Window.partitionBy("o_year").orderBy("revenue", "o_day")
    return daily.select(
        "o_year",
        "o_day",
        "revenue",
        (F.col("revenue") - F.lag("revenue").over(w)).alias("delta_prev_day"),
        (F.lead("revenue").over(w) - F.col("revenue")).alias("delta_next_day"),
        F.percent_rank().over(wr).alias("revenue_pctile"),
        F.cume_dist().over(wr).alias("revenue_cume"),
    )


@register(
    "funnel_view_click_purchase",
    """
    WITH fv AS (
        SELECT user_id, MIN(ts) AS first_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ), fc AS (
        SELECT e.user_id, MIN(e.ts) AS first_click
        FROM events e JOIN fv ON e.user_id = fv.user_id
        WHERE e.event_type = 'click' AND e.ts > fv.first_view
        GROUP BY e.user_id
    ), fp AS (
        SELECT e.user_id, MIN(e.ts) AS first_purchase
        FROM events e JOIN fc ON e.user_id = fc.user_id
        WHERE e.event_type = 'purchase' AND e.ts > fc.first_click
        GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM fv) AS users_view,
           (SELECT COUNT(*) FROM fc) AS users_click,
           (SELECT COUNT(*) FROM fp) AS users_purchase
    """,
    ops=["funnel", "A3", "J-semi"],
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase): each stage
    keeps users whose first qualifying event strictly follows the prior
    stage's. Three per-user aggregations chained by broadcast-sized
    joins (one row per user ≪ events), then three 1-row counts."""
    e = _t(spark, sf_dir, "events")
    fv = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    fc = (
        e.filter(F.col("event_type") == "click")
        .join(fv, "user_id")
        .filter(F.col("ts") > F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .join(fc, "user_id")
        .filter(F.col("ts") > F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return (
        fv.agg(F.count(F.lit(1)).alias("users_view"))
        .crossJoin(F.broadcast(fc.agg(F.count(F.lit(1)).alias("users_click"))))
        .crossJoin(F.broadcast(fp.agg(F.count(F.lit(1)).alias("users_purchase"))))
    )


@register(
    "weekly_retention_cohorts",
    """
    WITH first_seen AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT e.user_id, fs.cohort_week,
               date_trunc('week', e.ts) AS activity_week
        FROM events e JOIN first_seen fs ON e.user_id = fs.user_id
    )
    SELECT cohort_week,
           CAST((epoch(activity_week) - epoch(cohort_week)) // 604800
                AS INTEGER) AS week_offset,
           COUNT(*) AS n_active
    FROM activity
    GROUP BY cohort_week, week_offset
    """,
    ops=["retention", "A3", "A-distinct"],
)
def weekly_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen week, counted as
    active per subsequent week offset. Two aggregations on user_id
    (same shuffle key, exchange reused) + a distinct on (user, week);
    week arithmetic is exact integer epoch division — no interval
    types cross the engine boundary."""
    e = _t(spark, sf_dir, "events")
    fs = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    act = (
        e.join(fs, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.date_trunc("week", F.col("ts")).alias("activity_week"),
        )
        .distinct()
    )
    off = (
        (F.unix_timestamp("activity_week") - F.unix_timestamp("cohort_week"))
        / F.lit(604800)
    ).cast("int")
    return (
        act.groupBy("cohort_week", off.alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_active"))
        # DuckDB's date_trunc('week') yields DATE; align the group key
        .withColumn("cohort_week", F.col("cohort_week").cast("date"))
    )


@register(
    "training_shuffle_order",
    """
    WITH t AS (
        SELECT doc_id, lang,
               md5('s0:' || CAST(doc_id AS VARCHAR)) AS h,
               CAST(CAST('0x' || substr(md5('s0:' || CAST(doc_id AS VARCHAR)), 1, 8)
                         AS BIGINT) % 64 AS INTEGER) AS shard
        FROM documents
    )
    SELECT doc_id, lang, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
                AS INTEGER) AS shuffle_rank
    FROM t
    """,
    ops=["training-shuffle", "W1"],
)
def training_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: global order is
    (shard, shuffle_rank) — md5-keyed, seed-stable, one hash shuffle
    with per-shard local sorts (a single global sort would serialize
    into one partition at 100 TB)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return sampling.training_shuffle(d, key_col="doc_id", seed="s0", shards=64)


@register(
    "pack_payloads_per_seq",
    """
    WITH t AS (
        SELECT doc_id, lang, text,
               CAST(ceil(length(text) / 4.0) AS BIGINT) AS tokens
        FROM documents
    ), packed AS (
        SELECT doc_id, lang, text,
               CAST(SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id)
                    - tokens AS BIGINT) // 2048 AS seq_no
        FROM t
    )
    SELECT lang, seq_no,
           string_agg(text, ' ' ORDER BY doc_id) AS payload,
           CAST(COUNT(*) AS INTEGER) AS n_docs
    FROM packed
    GROUP BY lang, seq_no
    """,
    ops=["pack-payload", "A-ordered"],
)
def pack_payloads_per_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized packed training sequences: each (lang, seq_no)
    bin's documents concatenated in doc_id order — Spark's ordered
    string_agg via array_sort(collect_list(struct)). One shuffle on
    the (shard, seq_no) key; groups are context-window-sized."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        "text",
        F.ceil(F.length("text") / F.lit(4.0)).cast("long").alias("tokens"),
    )
    packed = packing.pack_contiguous(
        toks, budget=2048, tokens_col="tokens", shard_col="lang"
    )
    return packing.pack_payloads(packed, text_col="text", shard_col="lang")


@register(
    "decontaminate_docs",
    f"""
    WITH {_SHINGLES_CTE}, src AS (
        SELECT doc_id, source FROM documents
    ), bench AS (
        SELECT DISTINCT shingle
        FROM sh JOIN src USING (doc_id) WHERE source = 'src0'
    ), corpus AS (
        SELECT sh.doc_id, sh.shingle
        FROM sh JOIN src USING (doc_id) WHERE source <> 'src0'
    )
    SELECT doc_id, COUNT(*) AS n_contaminated
    FROM corpus JOIN bench USING (shingle)
    GROUP BY doc_id
    """,
    ops=["decontam", "J-semi", "A3"],
)
def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs (source≠src0) sharing any
    word-3-gram with the held-out benchmark slice (source=src0), with
    overlap counts. The benchmark shingle set broadcasts (evals are
    tiny next to a 100 TB corpus), so this is one corpus scan, no
    self-join."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    bench = dedup.ngram_set(d.filter(F.col("source") == "src0"), n=3)
    corpus = dedup.ngram_set(d.filter(F.col("source") != "src0"), n=3)
    return dedup.contaminated_docs(corpus, bench, item_col="shingle")


@register(
    "min_cost_supplier_per_part",
    """
    WITH cost AS (
        SELECT l_partkey, l_suppkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
                    AS DOUBLE) AS supply_value
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ), ranked AS (
        SELECT l_partkey, l_suppkey, supply_value,
               MIN(supply_value) OVER (PARTITION BY l_partkey) AS min_value
        FROM cost
    )
    SELECT p_partkey, p_brand, s_suppkey, s_name, supply_value
    FROM ranked
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE supply_value = min_value AND p_size <= 5
    """,
    ops=["tpch-q2", "W2", "J1"],
)
def min_cost_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the cheapest supplier(s) for each small part —
    the correlated MIN subquery decorrelated into a per-part window
    min (one shuffle on partkey, no second scan), then dimension joins
    broadcast.

    The ``p_size <= 5`` part predicate is pushed BELOW the aggregation
    as a broadcast semi-join on the fact scan — Catalyst won't move a
    join filter through an agg+window on its own, and at 100 TB the
    selective dimension predicate shrinks both shuffles by the part
    selectivity. Equality on decimal-exact doubles is portable."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    s = _t(spark, sf_dir, "supplier")
    lf = l.join(
        F.broadcast(p.select(F.col("p_partkey").alias("l_partkey"))),
        on="l_partkey",
        how="left_semi",
    )
    one = F.lit(1).cast("decimal(3,2)")
    vol = _dec2("l_extendedprice") * (one - F.col("l_discount").cast("decimal(4,2)"))
    cost = lf.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(vol).cast("double").alias("supply_value")
    )
    w = Window.partitionBy("l_partkey")
    return (
        cost.withColumn("min_value", F.min("supply_value").over(w))
        .filter(F.col("supply_value") == F.col("min_value"))
        .join(F.broadcast(p.select("p_partkey", "p_brand")), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s.select("s_suppkey", "s_name")), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "p_brand", "s_suppkey", "s_name", "supply_value")
    )


@register(
    "nation_year_profit",
    """
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
                AS DOUBLE) AS sum_profit
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN part ON p_partkey = l_partkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, year(o_orderdate)
    """,
    ops=["tpch-q9", "J1", "A3", "F-like"],
)
def nation_year_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: revenue on 'red' parts by supplier nation and
    order year ('red' matches this corpus's color vocabulary; the
    TPC-H-classic 'green' matches nothing here — vacuous until the
    empty-result registry scan caught it). The part LIKE-filter semi-reduces lineitem via a
    broadcast hash join BEFORE the orders join (biggest table joins
    last against the already-filtered fact)."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    one = F.lit(1).cast("decimal(3,2)")
    vol = _dec2("l_extendedprice") * (one - F.col("l_discount").cast("decimal(4,2)"))
    return (
        l.join(F.broadcast(p.select("p_partkey")), l.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(s.select("s_suppkey", "s_nationkey")), l.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(o.select("o_orderkey", "o_orderdate"), l.l_orderkey == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(vol).cast("double").alias("sum_profit"))
    )


@register(
    "important_parts_share",
    """
    WITH val AS (
        SELECT l_partkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
                    AS DOUBLE) AS part_value
        FROM lineitem GROUP BY l_partkey
    ), tot AS (
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
                    AS DOUBLE) AS total_value,
               (SELECT COUNT(*) FROM val) AS n_parts
        FROM lineitem
    )
    SELECT l_partkey, part_value, part_value / total_value AS value_share
    FROM val CROSS JOIN tot
    WHERE part_value * n_parts > 1.5 * total_value
    """,
    ops=["tpch-q11", "A3", "scalar-subquery"],
)
def important_parts_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose revenue exceeds 1.5× the per-part
    MEAN (the fixed-0.1%-of-total form is SF-fragile: on this data's
    near-uniform part values it returned zero rows at the driver's
    SF, a vacuous oracle match — found by the empty-result scan; the
    mean-relative threshold selects the heavy tail at every SF).
    Scalars decorrelate into 1-row broadcasts; all sums are
    decimal-exact before the double compare."""
    l = _t(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(3,2)")
    vol = _dec2("l_extendedprice") * (one - F.col("l_discount").cast("decimal(4,2)"))
    val = l.groupBy("l_partkey").agg(F.sum(vol).cast("double").alias("part_value"))
    tot = l.agg(F.sum(vol).cast("double").alias("total_value"))
    nparts = val.agg(F.count(F.lit(1)).alias("n_parts"))
    return (
        val.join(F.broadcast(tot))
        .join(F.broadcast(nparts))
        .filter(
            F.col("part_value") * F.col("n_parts")
            > F.lit(1.5) * F.col("total_value")
        )
        .select(
            "l_partkey",
            "part_value",
            (F.col("part_value") / F.col("total_value")).alias("value_share"),
        )
    )


@register(
    "customer_order_count_histogram",
    """
    WITH per_cust AS (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders ON o_custkey = c_custkey
                        AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust
    GROUP BY c_count
    """,
    ops=["tpch-q13", "J-outer", "A3"],
)
def customer_order_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of non-urgent order counts per
    customer, zero-order customers included via the outer join. Double
    aggregation: the first shuffles on custkey, the second on the
    (tiny-cardinality) count value — the classic histogram-of-counts
    plan."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.select("c_custkey")
        .join(o.select("o_custkey", "o_orderkey"), c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "parts_supplier_breadth",
    """
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type NOT LIKE 'PROMO%'
      AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type, p_size
    """,
    ops=["tpch-q16", "A-distinct", "J-anti", "F-like"],
)
def parts_supplier_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can deliver each
    (brand, type, size), excluding negative-balance suppliers. The NOT
    IN subquery becomes a broadcast left-anti join (null-safe here:
    s_suppkey is a key, never null); distinct-count shuffles once on
    the group key."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (~F.col("p_type").like("PROMO%"))
    )
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        l.join(F.broadcast(bad), l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(
            F.broadcast(p.select("p_partkey", "p_brand", "p_type", "p_size")),
            l.l_partkey == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@register(
    "suppliers_kept_orders_waiting",
    """
    WITH ll AS (
        SELECT l_orderkey, l_suppkey,
               CAST(l_shipdate > o_orderdate + INTERVAL 90 DAY AS BOOLEAN) AS is_late
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        WHERE o_orderstatus = 'F'
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM ll WHERE is_late) late
    JOIN supplier ON s_suppkey = late.l_suppkey
    WHERE EXISTS (
        SELECT 1 FROM ll o2
        WHERE o2.l_orderkey = late.l_orderkey AND o2.l_suppkey <> late.l_suppkey
    )
    AND NOT EXISTS (
        SELECT 1 FROM ll o3
        WHERE o3.l_orderkey = late.l_orderkey AND o3.l_suppkey <> late.l_suppkey
          AND o3.is_late
    )
    GROUP BY s_name
    """,
    ops=["tpch-q21", "J-semi", "J-anti", "A3"],
)
def suppliers_kept_orders_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    finished multi-supplier order ("late" = shipped >90 days after the
    order date — the testdata has no receipt/commit dates).

    The EXISTS/NOT-EXISTS of the spec (and the oracle) decorrelate into
    ONE per-(order, supplier) aggregation: a late supplier qualifies
    iff its order has ≥2 distinct suppliers and exactly 1 late one —
    set algebra over counts replaces a semi- plus an anti-join of the
    same relation (measured 3.1 s → 1.9 s at sf0.1, and two fewer
    shuffles of the per-order relation at any scale)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    per = (
        l.join(
            o.select("o_orderkey", "o_orderdate"), l.l_orderkey == F.col("o_orderkey")
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                (
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
                ).cast("int")
            ).alias("is_late")
        )
    )
    stats = per.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("is_late").alias("n_late"),
    )
    sole_late = (
        per.filter(F.col("is_late") == 1)
        .join(
            stats.filter((F.col("n_suppliers") >= 2) & (F.col("n_late") == 1)),
            "l_orderkey",
        )
    )
    return (
        sole_late.join(
            F.broadcast(s.select("s_suppkey", "s_name")),
            sole_late.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "dominant_part_suppliers",
    """
    WITH blue AS (
        SELECT p_partkey FROM part WHERE p_name LIKE '%blue%'
    ), per AS (
        SELECT l_partkey, l_suppkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS supp_qty
        FROM lineitem JOIN blue ON p_partkey = l_partkey
        GROUP BY l_partkey, l_suppkey
    ), tot AS (
        SELECT l_partkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS part_qty
        FROM lineitem JOIN blue ON p_partkey = l_partkey
        GROUP BY l_partkey
    ), ns AS (
        SELECT l_partkey, COUNT(*) AS n_supp FROM per GROUP BY l_partkey
    ), flagged AS (
        SELECT DISTINCT per.l_suppkey
        FROM per JOIN tot USING (l_partkey) JOIN ns USING (l_partkey)
        WHERE supp_qty * n_supp > 2.0 * part_qty
    )
    SELECT s_suppkey, s_name
    FROM supplier JOIN flagged ON s_suppkey = l_suppkey
    """,
    ops=["tpch-q20", "J-semi", "A3", "scalar-subquery"],
)
def dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped more than 2× the
    per-supplier MEAN of some blue part's quantity (the classic
    more-than-half-of-total form is vacuous here — ~26 suppliers per
    part means no one ever holds 50%; zero rows at every SF until the
    empty-result scan caught it). Quantity sums are decimal-exact
    BEFORE the double compare; the flagged set semi-joins supplier."""
    l = _t(spark, sf_dir, "lineitem")
    blue = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%blue%"))
        .select("p_partkey")
    )
    s = _t(spark, sf_dir, "supplier")
    lb = l.join(F.broadcast(blue), l.l_partkey == F.col("p_partkey")).select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    per = lb.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(_dec2("l_quantity")).cast("double").alias("supp_qty")
    )
    tot = lb.groupBy("l_partkey").agg(
        F.sum(_dec2("l_quantity")).cast("double").alias("part_qty")
    )
    ns = per.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_supp"))
    flagged = (
        per.join(tot, "l_partkey")
        .join(ns, "l_partkey")
        .filter(
            F.col("supp_qty") * F.col("n_supp")
            > F.lit(2.0) * F.col("part_qty")
        )
        .select("l_suppkey")
        .distinct()
    )
    return s.join(
        F.broadcast(flagged), s.s_suppkey == flagged.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


@register(
    "gopher_quality_rules",
    """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS toks
        FROM documents
    ), m AS (
        SELECT doc_id,
               CAST(len(toks) AS INTEGER) AS n_words,
               CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_chars,
               CAST(len(list_filter(toks,
                   x -> x IN ('the','and','of','to','in','is','a','that'))) AS INTEGER)
                   AS stop_hits,
               CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct
        FROM t
    ), r AS (
        SELECT doc_id, n_words,
               CASE WHEN n_words > 0 THEN sum_chars / n_words END AS mean_word_len,
               stop_hits,
               CASE WHEN n_words > 0 THEN n_distinct / n_words END AS distinct_ratio
        FROM m
    )
    SELECT doc_id, n_words, mean_word_len, stop_hits, distinct_ratio,
           (n_words >= 20 AND n_words <= 100000) AS wc_ok,
           COALESCE(mean_word_len >= 2.0 AND mean_word_len <= 12.0, FALSE) AS mwl_ok,
           (stop_hits >= 2) AS stop_ok,
           COALESCE(distinct_ratio >= 0.2, FALSE) AS distinct_ok,
           ((n_words >= 20 AND n_words <= 100000)
            AND COALESCE(mean_word_len >= 2.0 AND mean_word_len <= 12.0, FALSE)
            AND stop_hits >= 2
            AND COALESCE(distinct_ratio >= 0.2, FALSE)) AS keep
    FROM r
    """,
    ops=["text-quality", "gopher-rules"],
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Published Gopher quality-rule set as per-rule booleans + keep
    flag — the rule-level audit report a curation pipeline emits before
    committing a filter config. One scan, zero UDFs."""
    d = _t(spark, sf_dir, "documents")
    return text.gopher_rules(d)


@register(
    "source_mix_report",
    """
    WITH per AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(CAST(ceil(n_chars / 4.0) AS BIGINT)) AS BIGINT) AS total_tokens
        FROM documents GROUP BY source
    ), tot AS (
        SELECT CAST(SUM(total_tokens) AS BIGINT) AS corpus_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_sources
        FROM per
    )
    SELECT source, n_docs, total_tokens,
           total_tokens / corpus_tokens AS token_share,
           (1.0 / n_sources) / (total_tokens / corpus_tokens) AS sample_weight
    FROM per, tot
    """,
    ops=["curation-mix", "A3"],
)
def source_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix report: per-source token mass, corpus share, and
    the per-source sampling weight that flattens the mix to uniform —
    the knob a data pipeline turns when rebalancing domains. The
    corpus-wide totals join back as a 1-row broadcast (no second
    scan of documents)."""
    d = _t(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.ceil(F.col("n_chars") / F.lit(4.0)).cast("long"))
        .cast("long")
        .alias("total_tokens"),
    )
    tot = per.agg(
        F.sum("total_tokens").cast("long").alias("corpus_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
    )
    share = F.col("total_tokens") / F.col("corpus_tokens")
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "total_tokens",
        share.alias("token_share"),
        ((F.lit(1.0) / F.col("n_sources")) / share).alias("sample_weight"),
    )


__all__ = [n for n in globals() if not n.startswith("__")]
