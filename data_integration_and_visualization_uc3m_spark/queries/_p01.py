"""Query registry — part 1/8 of the mechanical queries.py split.

Contiguous slice of the original module; see queries/_core.py for
the chaining scheme. Do not reorder across parts — registration
order is the driver-window rotation order.
"""

from __future__ import annotations

from ._core import *  # noqa: F401,F403



# =====================================================================
# Flagship — the reference ETL skeleton over testdata (SURVEY §7.2):
# scan → filter → validated join → group agg → derived rate → round.
# Mirrors the immigration transform (etl:268-303): fact enriched with a
# dimension, per-key rate = total / base * 100000.
# =====================================================================


@register(
    "flagship_nation_year_rate",
    """
    SELECT n_name,
           CAST(year(o_orderdate) AS INTEGER) AS order_year,
           COUNT(*) AS n_orders,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_order_value,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(DISTINCT o_custkey) * 100000 AS revenue_per_customer_100k
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY n_name, order_year
    """,
    ops=["S5", "F5", "J1", "A3", "C7", "P4"],
)
def flagship_nation_year_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    enriched = orders.join(
        F.broadcast(customer.select("c_custkey", "c_nationkey")),
        orders.o_custkey == F.col("c_custkey"),
        "inner",
    ).join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey, "inner")
    total = F.sum(_dec2("o_totalprice")).cast("double")
    return (
        enriched.groupBy(
            "n_name", F.year("o_orderdate").alias("order_year")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").cast("long").alias("n_customers"),
            total.alias("total_revenue"),
            (total / F.count(F.lit(1))).alias("avg_order_value"),
            (total / F.countDistinct("o_custkey") * 100000).alias(
                "revenue_per_customer_100k"
            ),
        )
    )


# =====================================================================
# Relational core (reference operator surface over testdata)
# =====================================================================


@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                    * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE)
             AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    ops=["A3", "C5", "C7", "F5"],
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary — the canonical scan→filter→agg
    plan (map-side partial agg + one shuffle on the 2-col group key)."""
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    one = F.lit(1).cast("decimal(3,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    price = _dec2("l_extendedprice")
    qty = _dec2("l_quantity")
    n = F.count(F.lit(1))
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).cast("double").alias("sum_qty"),
        F.sum(price).cast("double").alias("sum_base_price"),
        F.sum(price * (one - disc)).cast("double").alias("sum_disc_price"),
        F.sum(price * (one - disc) * (one + tax)).cast("double").alias("sum_charge"),
        (F.sum(qty).cast("double") / n).alias("avg_qty"),
        (F.sum(price).cast("double") / n).alias("avg_price"),
        (F.sum(disc).cast("double") / n).alias("avg_disc"),
        n.alias("count_order"),
    )


@register(
    "conjunctive_slice",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
    FROM lineitem
    WHERE l_returnflag = 'A' AND l_linestatus = 'F'
      AND l_quantity >= 10 AND l_quantity <= 40
      AND l_discount >= 0.02 AND l_tax <= 0.06
      AND l_shipdate >= TIMESTAMP '1996-01-01'
    """,
    ops=["F7", "F5", "P1"],
)
def conjunctive_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 — the reference's flagship 7-way conjunctive slice
    (etl:236-252) re-expressed; all conjuncts reach the parquet scan as
    PushedFilters. Row-granular output: values come straight from the
    scan, so the oracle match is bit-exact."""
    l = _t(spark, sf_dir, "lineitem")
    sliced = filters.conjunctive_slice(
        l,
        [
            F.col("l_returnflag") == "A",
            F.col("l_linestatus") == "F",
            filters.in_range("l_quantity", 10, 40),
            F.col("l_discount") >= 0.02,
            F.col("l_tax") <= 0.06,
            F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"),
        ],
    )
    return cleaning.project(
        sliced,
        ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount"],
    )


@register(
    "keyed_dedup_first_wins",
    """
    SELECT c_nationkey, c_custkey, c_name
    FROM (
        SELECT c_nationkey, c_custkey, c_name,
               ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
        FROM customer
    ) WHERE rn = 1
    """,
    ops=["A1", "§2.8"],
)
def keyed_dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — deterministic first-wins dedup per key (richest customer per
    nation), replacing pandas' file-order drop_duplicates (etl:199-203)."""
    c = _t(spark, sf_dir, "customer")
    return slicing.top_k_per_group(
        c, ["c_nationkey"], [F.col("c_acctbal").desc(), F.col("c_custkey")], 1
    ).select("c_nationkey", "c_custkey", "c_name")


@register(
    "anti_join_inactive_customers",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '1999-01-01')
    """,
    ops=["F1", "J4", "V3"],
)
def anti_join_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/V3 — anti-join: customers with no orders since 1999 (the
    FK-violation primitive, schema.sql:44-54, run in reverse, with a
    recency window — the unwindowed form is VACUOUS on this data:
    every customer has some order at every SF, so its oracle match
    proved nothing; found by the empty-result registry scan)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    return joins.anti_join(c, o.select(F.col("o_custkey").alias("c_custkey")), ["c_custkey"]).select(
        "c_custkey", "c_name"
    )


@register(
    "semi_join_active_customers",
    """
    SELECT c_custkey, c_acctbal
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    ops=["J4"],
)
def semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — FK semi-join semantics (facts restricted to known dims)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return joins.semi_join(c, o.select(F.col("o_custkey").alias("c_custkey")), ["c_custkey"]).select(
        "c_custkey", "c_acctbal"
    )


@register(
    "lookup_join_fallback",
    """
    SELECT n_nationkey,
           COALESCE(m.canonical, lower(trim(n_name))) AS canonical_name
    FROM nation
    LEFT JOIN (VALUES ('france', 'french republic'),
                      ('germany', 'federal republic of germany'),
                      ('japan', 'state of japan'),
                      ('unmatched-alias', 'never hit')) AS m(alias, canonical)
      ON lower(trim(n_name)) = m.alias
    """,
    ops=["J2", "J3", "C1", "S8"],
)
def lookup_join_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — broadcast dictionary-lookup join with fallback-to-input
    (COUNTRIES_MAP.get(k, default), etl:31-34): unmatched keys pass
    through unchanged via coalesce, not null."""
    n = _t(spark, sf_dir, "nation")
    lookup = local_frame(
        spark,
        [
            {"alias": "france", "canonical": "french republic"},
            {"alias": "germany", "canonical": "federal republic of germany"},
            {"alias": "japan", "canonical": "state of japan"},
            {"alias": "unmatched-alias", "canonical": "never hit"},
        ],
        T.StructType([
            T.StructField("alias", T.StringType()),
            T.StructField("canonical", T.StringType()),
        ]),
    )
    out = joins.lookup_join_with_fallback(
        n, lookup, cleaning.normalize_string("n_name"), "canonical_name"
    )
    return out.select("n_nationkey", "canonical_name")


@register(
    "validated_m2o_join",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    ops=["J1", "V5", "A3"],
)
def validated_m2o_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/V5 — many-to-one validated equi-join (merge(validate=
    'many_to_one'), etl:284-289): uniqueness of the build side is
    asserted before the join."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = joins.validated_join(l, o, on=["l_orderkey"])
    one = F.lit(1).cast("decimal(3,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(_dec2("l_extendedprice") * (one - disc)).cast("double").alias("revenue"),
    )


@register(
    "uniqueness_violations",
    """
    SELECT o_custkey, COUNT(*) AS n_rows
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) > 1
    """,
    ops=["V2"],
)
def uniqueness_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2 — uniqueness validator surfacing violation groups (the UNIQUE
    constraint check, schema.sql:57,81,104), demonstrated on a
    deliberately non-unique key."""
    o = _t(spark, sf_dir, "orders")
    return validate.uniqueness_violations(o, ["o_custkey"])


@register(
    "fk_and_null_audit",
    """
    SELECT
      (SELECT COUNT(*) FROM lineitem
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)) AS n_fk_orphans,
      (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS n_null_custkey,
      (SELECT COUNT(*) FROM orders WHERE o_orderdate IS NULL) AS n_null_orderdate
    """,
    ops=["V1", "V3"],
)
def fk_and_null_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1/V3 — constraint audit summary: FK orphans (left-anti count) +
    NOT NULL violation counts, as one single-row report.

    One lazy plan, one job: both single-row aggregates (the anti-join
    orphan count and the conditional null counts) join as 1×1 scalar
    broadcasts — no driver-side ``.count()`` round-trips (round 2 ran
    three separate jobs here)."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    orphans = (
        validate.fk_violations(
            l, o.select(F.col("o_orderkey").alias("l_orderkey")), ["l_orderkey"]
        )
        .agg(F.count(F.lit(1)).alias("n_fk_orphans"))
    )
    nulls = o.agg(
        F.coalesce(
            F.sum(F.col("o_custkey").isNull().cast("long")), F.lit(0).cast("long")
        ).alias("n_null_custkey"),
        F.coalesce(
            F.sum(F.col("o_orderdate").isNull().cast("long")), F.lit(0).cast("long")
        ).alias("n_null_orderdate"),
    )
    # 1-row × 1-row scalar-aggregate join (broadcast; allowlisted shape)
    return orphans.crossJoin(nulls)


@register(
    "range_violations",
    """
    SELECT event_id, value FROM events
    WHERE NOT (value >= 0 AND value <= 450)
    """,
    ops=["V4", "F5"],
)
def range_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V4 — range-plausibility validator returning the violating rows
    (population>0 / VALUE>=0 checks, etl:185,215)."""
    e = _t(spark, sf_dir, "events")
    return validate.range_violations(
        e, filters.in_range("value", 0, 450)
    ).select("event_id", "value")


@register(
    "coerce_missing_markers",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(COUNT(CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) = 0 THEN 1 END) AS BIGINT)
             AS n_missing,
           CAST(SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) != 0
                         THEN CAST(json_extract_string(props, '$.k') AS INTEGER) END) AS BIGINT)
             AS sum_k_present
    FROM events
    GROUP BY event_type
    """,
    ops=["C2", "C3", "P3"],
)
def coerce_missing_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2/C3 — coercing extraction from semi-structured props + missing-
    marker handling (Eurostat ':'→0 pattern, etl:278-280, with 0 as the
    in-band missing marker here)."""
    e = _t(spark, sf_dir, "events")
    k = cleaning.coerce_numeric(F.get_json_object("props", "$.k"), "int")
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.when(F.col("k") == 0, 1)).cast("long").alias("n_missing"),
            F.sum(F.when(F.col("k") != 0, F.col("k")))
            .cast("long")
            .alias("sum_k_present"),
        )
    )


@register(
    "bucketize_acctbal",
    """
    SELECT CASE WHEN c_acctbal >= -1000 AND c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal >= 0 AND c_acctbal < 2500 THEN 'low'
                WHEN c_acctbal >= 2500 AND c_acctbal < 7500 THEN 'mid'
                WHEN c_acctbal >= 7500 AND c_acctbal < 100000 THEN 'high'
           END AS balance_bucket,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
    FROM customer
    GROUP BY balance_bucket
    """,
    ops=["C9", "A3"],
)
def bucketize_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9 — value bucketing (viz marker buckets, create-maps.py:15-18)
    as a codegen'd CASE chain, then per-bucket aggregates."""
    c = _t(spark, sf_dir, "customer")
    bucket = slicing.bucketize(
        "c_acctbal",
        edges=[-1000, 0, 2500, 7500, 100000],
        labels=["negative", "low", "mid", "high"],
    )
    return (
        c.withColumn("balance_bucket", bucket)
        .groupBy("balance_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(_dec2("c_acctbal")).cast("double").alias("total_balance"),
        )
    )


@register(
    "deterministic_slice",
    """
    SELECT o_orderkey, o_totalprice, rn
    FROM (
        SELECT o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    ) WHERE rn > 10 AND rn <= 25
    """,
    ops=["F8", "§2.8"],
)
def deterministic_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 — positional row-range slice under an explicit total order
    (pandas df[a:b] at create-maps.py:22-24 made deterministic,
    SURVEY §7.4.6). Keeps rn so the oracle checks rank agreement too."""
    o = _t(spark, sf_dir, "orders")
    w = Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") > 10) & (F.col("rn") <= 25))
        .select("o_orderkey", "o_totalprice", "rn")
    )


@register(
    "top_k_orders",
    """
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    ops=["§2.8"],
)
def top_k_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 — top-k with unique tiebreak (TakeOrdered physical op: no
    global sort, k·partitions rows to the driver)."""
    o = _t(spark, sf_dir, "orders")
    return slicing.top_k(
        o, [F.col("o_totalprice").desc(), F.col("o_orderkey")], 10
    ).select("o_orderkey", "o_totalprice", "o_orderpriority")


@register(
    "union_fold_by_year",
    """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS year_id,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY year_id
    """,
    ops=["S2", "A4", "P5"],
)
def union_fold_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/A4/P5 — per-year scan + literal-column injection + unionByName
    fold (the World Bank per-year page pattern, etl:104-132). Catalyst
    collapses the union of filters on one source into a single scan."""
    from functools import reduce

    o = _t(spark, sf_dir, "orders")
    years = range(1995, 2002)
    per_year = [
        o.filter(F.year("o_orderdate") == y).withColumn(
            "year_id", F.lit(y).cast("int")
        )
        for y in years
    ]
    unioned = reduce(DataFrame.unionByName, per_year)
    return unioned.groupBy("year_id").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec2("o_totalprice")).cast("double").alias("total_price"),
    )


@register(
    "upsert_conflict_ignore",
    """
    WITH target AS (
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS INTEGER) AS order_year,
               CAST(o_totalprice AS DECIMAL(18,2)) AS price
        FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
    ), batch AS (
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS INTEGER) AS order_year,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1 AS DECIMAL(18,2)) AS price
        FROM orders
    ), merged AS (
        SELECT * FROM target
        UNION ALL
        SELECT b.* FROM batch b
        WHERE NOT EXISTS (SELECT 1 FROM target t WHERE t.o_orderkey = b.o_orderkey)
    )
    SELECT order_year, COUNT(*) AS n_orders, CAST(SUM(price) AS DOUBLE) AS sum_price
    FROM merged GROUP BY order_year
    """,
    ops=["K2", "A2"],
)
def upsert_conflict_ignore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 — ON CONFLICT DO NOTHING (etl:335-368) as dedup + anti-join +
    append: existing keys keep their old values (price unchanged for
    pre-1998), fresh keys append with the batch's values (+1 marker)."""
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        _dec2("o_totalprice").alias("price"),
    )
    target = o.filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    ).select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        _dec2("o_totalprice").alias("price"),
    )
    batch = base.withColumn(
        "price", (F.col("price") + 1).cast(DEC2)
    )
    merged = upsert.upsert_ignore(target, batch, keys=["o_orderkey"])
    return merged.groupBy("order_year").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("price").cast("double").alias("sum_price"),
    )


@register(
    "string_normalize_profile",
    """
    SELECT p_brand,
           COUNT(DISTINCT lower(trim(p_type))) AS n_types,
           COUNT(DISTINCT lower(trim(p_name))) AS n_names,
           MIN(lower(trim(p_name))) AS first_name
    FROM part
    GROUP BY p_brand
    """,
    ops=["C1", "A3"],
)
def string_normalize_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 — lower∘trim normalization (etl:31-34,177-179) feeding distinct
    counts; min() gives a deterministic representative."""
    p = _t(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.countDistinct(cleaning.normalize_string("p_type")).alias("n_types"),
        F.countDistinct(cleaning.normalize_string("p_name")).alias("n_names"),
        F.min(cleaning.normalize_string("p_name")).alias("first_name"),
    )


@register(
    "rounding_contract",
    """
    SELECT o_orderkey,
           CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)), 1) AS DOUBLE) AS price_r1,
           CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)), 0) AS BIGINT) AS price_int
    FROM orders
    WHERE o_orderkey <= 500
    """,
    ops=["C4", "C5"],
)
def rounding_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/C5 — the 2-decimal/integer rounding contract (etl:255,297,
    191-192) under the documented HALF_UP mode (SURVEY §7.4.1): rounding
    DECIMAL values is tie-exact and engine-portable (verified: DuckDB
    decimal ROUND is also half-away-from-zero)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 500)
    price = _dec2("o_totalprice")
    return o.select(
        "o_orderkey",
        cleaning.round_half_up(price, 1).cast("double").alias("price_r1"),
        cleaning.to_integer_rounded(price, "long").alias("price_int"),
    )


@register(
    "window_running_total",
    """
    SELECT s_nationkey, s_suppkey,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2)))
                OVER (PARTITION BY s_nationkey ORDER BY s_suppkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_balance
    FROM supplier
    """,
    ops=["§2.8"],
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 — running aggregate per group (engine extension; exact in
    decimal so prefix sums are order-stable and portable)."""
    s = _t(spark, sf_dir, "supplier")
    out = slicing.running_agg(
        s.withColumn("bal", _dec2("s_acctbal")),
        group_by=["s_nationkey"],
        order_by=[F.col("s_suppkey")],
        agg_col=F.col("bal"),
        out="running_balance",
    )
    return out.select(
        "s_nationkey", "s_suppkey", F.col("running_balance").cast("double").alias("running_balance")
    )


@register(
    "rollup_region_nation",
    """
    SELECT r_name, n_name,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    ops=["A3", "J1"],
)
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (region → nation → grand total) — engine
    extension beyond the reference's flat GROUP BY (A3); one shuffle,
    Spark expands grouping sets map-side."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return j.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(_dec2("c_acctbal")).cast("double").alias("total_balance"),
    )


@register(
    "events_hourly",
    """
    SELECT date_trunc('hour', ts) AS hour_ts,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY hour_ts, event_type
    """,
    ops=["A3", "streaming-batch-parity"],
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation in batch form — the exact shape the
    streaming module runs with a watermark (streaming/events.py); batch
    and stream agree on this query by construction."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("hour_ts"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC6)).cast("double").alias("total_value"),
        )
    )


@register(
    "streaming_batch_parity_e2e",
    """
    SELECT date_trunc('hour', ts) AS hour_ts,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY hour_ts, event_type
    """,
    ops=["streaming-e2e", "K2", "K3"],
)
def streaming_batch_parity_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END streaming evidence under the driver's oracle gate:
    the events table is re-staged as a 4-file directory, streamed
    through a real Structured Streaming query (file source, one
    micro-batch per file) whose foreachBatch sink applies the K2
    conflict-ignoring upsert into a versioned atomic parquet table
    (manifest-pointer commit, K3), and the FINAL committed table is
    aggregated with the same tumbling-hour plan the watermark stream
    runs. The oracle is the plain batch SQL over raw events: stream
    delivery + per-batch upsert must be contents-preserving (event_id
    is the natural key), so both sides hash-match exactly."""

    from ..operators.upsert import read_upsert_parquet
    from ..streaming.events import hourly_agg, run_stream_foreach_batch_upsert

    e = _t(spark, sf_dir, "events")
    work = scratch_dir("stream_e2e", sf_dir, clean=True)
    src = f"{work}/src"
    e.repartition(4).write.mode("overwrite").parquet(src)
    run_stream_foreach_batch_upsert(
        spark, src, f"{work}/target", f"{work}/ckpt"
    )
    final = read_upsert_parquet(spark, f"{work}/target")
    return hourly_agg(final)


@register(
    "streaming_dedup_e2e",
    """
    SELECT date_trunc('hour', ts) AS hour_ts,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY hour_ts, event_type
    """,
    ops=["streaming-dedup", "streaming-e2e"],
)
def streaming_dedup_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once under redelivery, proven by the oracle: every event
    is staged TWICE (two full copies in the stream source), streamed
    through ``dropDuplicatesWithinWatermark(event_id)`` into an
    append-mode parquet sink, and the result aggregated. The oracle is
    the plain hourly SQL over the SINGLE-copy events table — it only
    hash-matches if the streaming dedup removed every redelivered
    duplicate and nothing else."""

    from ..streaming.events import hourly_agg, run_stream_dedup_to_parquet

    e = _t(spark, sf_dir, "events")
    work = scratch_dir("stream_dedup", sf_dir, clean=True)
    src = f"{work}/src"
    e.repartition(3).write.mode("overwrite").parquet(src)
    e.repartition(3).write.mode("append").parquet(src)  # redelivery: 2nd copy
    # Watermark derived from the staged data's ACTUAL ts span (+1 day
    # slack), not a fixed constant: dropDuplicatesWithinWatermark only
    # dedups redeliveries within watermark of the stream max, so a
    # fixed horizon narrower than the span would let out-of-order file
    # replay re-emit old duplicates after state eviction (ADVICE r3).
    span = e.agg(
        F.ceil(
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
            / 86400.0
        ).alias("d")
    ).first()["d"]
    run_stream_dedup_to_parquet(
        spark, src, f"{work}/out", f"{work}/ckpt",
        watermark=f"{int(span) + 1} days",
    )
    return hourly_agg(spark.read.parquet(f"{work}/out"))


@register(
    "sessionize_events",
    """
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS us FROM events
    ), flagged AS (
        SELECT user_id,
               CASE WHEN LAG(us) OVER w IS NULL
                         OR us - LAG(us) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(new_session) AS BIGINT) AS n_sessions
    FROM flagged GROUP BY user_id
    """,
    ops=["§2.8", "sessionization"],
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag-gap — 30-min inactivity threshold; exact
    integer epoch-microsecond arithmetic on both engines."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    flagged = e.withColumn(
        "new_session",
        F.when(
            F.lag("us").over(w).isNull()
            | ((F.col("us") - F.lag("us").over(w)) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    return flagged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("new_session").cast("long").alias("n_sessions"),
    )


@register(
    "shipping_priority",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS revenue,
           CAST(o_orderdate AS DATE) AS orderdate,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    ops=["J1", "A3", "§2.8"],
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment filter → 3-way join → revenue agg →
    top-10. Customer filter broadcasts; lineitem never shuffles for the
    dim sides."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    one = F.lit(1).cast("decimal(3,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (
        l.join(
            F.broadcast(o.select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")),
            l.l_orderkey == F.col("o_orderkey"),
        )
        .join(F.broadcast(c.select("c_custkey")), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(
            F.sum(_dec2("l_extendedprice") * (one - disc)).cast("double").alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
    )


@register(
    "region_revenue",
    """
    SELECT r_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    GROUP BY r_name
    """,
    ops=["J1", "A3"],
)
def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-table snowflake join rolled up to region. All
    four dim sides broadcast — the fact table streams through one
    codegen stage, shuffling only for the final 5-group agg."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    one = F.lit(1).cast("decimal(3,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (
        l.join(F.broadcast(o.select("o_orderkey", "o_custkey")), l.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(c.select("c_custkey", "c_nationkey")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_regionkey")), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.sum(_dec2("l_extendedprice") * (one - disc)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "forecast_revenue_change",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue_delta,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount >= 0.03 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
    ops=["F5", "F7", "A3"],
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-agg — every predicate reaches
    the parquet row-group level; no shuffle at all (single global agg)."""
    l = _t(spark, sf_dir, "lineitem")
    sliced = filters.conjunctive_slice(
        l,
        [
            F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"),
            F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"),
            filters.in_range("l_discount", 0.03, 0.07),
            F.col("l_quantity") < 24,
        ],
    )
    disc = F.col("l_discount").cast("decimal(4,2)")
    return sliced.agg(
        F.sum(_dec2("l_extendedprice") * disc).cast("double").alias("revenue_delta"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "small_quantity_orders",
    """
    WITH part_avg AS (
        SELECT l_partkey AS pk, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                                / COUNT(*) AS avg_qty
        FROM lineitem GROUP BY l_partkey
    )
    SELECT p_brand,
           COUNT(*) AS n_small_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN part_avg ON l_partkey = pk
    WHERE l_quantity < 0.5 * avg_qty
    GROUP BY p_brand
    """,
    ops=["J1", "A3", "correlated-agg"],
)
def small_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-part average decorrelated into an
    aggregate-then-join (the plan Catalyst itself produces for the
    correlated subquery). avg is sum/count in exact decimal → double."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    part_avg = l.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.sum(_dec2("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty")
    )
    return (
        l.join(F.broadcast(p.select("p_partkey", "p_brand")), l.l_partkey == F.col("p_partkey"))
        .join(part_avg, l.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_small_lines"),
            F.sum(_dec2("l_extendedprice")).cast("double").alias("total_price"),
        )
    )


@register(
    "supplier_nation_volume",
    """
    SELECT n_name,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS supply_revenue,
           CAST(MIN(s_acctbal) AS DOUBLE) AS min_supplier_bal
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
    ops=["J1", "A3"],
)
def supplier_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-side volume per nation (exercises the supplier dim)."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    one = F.lit(1).cast("decimal(3,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(_dec2("l_extendedprice") * (one - disc)).cast("double").alias(
                "supply_revenue"
            ),
            F.min("s_acctbal").cast("double").alias("min_supplier_bal"),
        )
    )


@register(
    "data_profile_orders",
    """
    SELECT COUNT(*) AS n_rows,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses,
           CAST(COUNT(CASE WHEN o_totalprice IS NULL THEN 1 END) AS BIGINT) AS n_null_price,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           CAST(MIN(o_orderdate) AS DATE) AS first_order,
           CAST(MAX(o_orderdate) AS DATE) AS last_order
    FROM orders
    """,
    ops=["profiling", "V1"],
)
def data_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data profile (the audit report a pipeline runs before
    load): row/distinct/null counts + value ranges."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_custkey").cast("long").alias("n_customers"),
        F.countDistinct("o_orderstatus").cast("long").alias("n_statuses"),
        F.count(F.when(F.col("o_totalprice").isNull(), 1)).cast("long").alias("n_null_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.min(F.col("o_orderdate").cast("date")).alias("first_order"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
    )


@register(
    "events_moving_sum",
    """
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hour_ts, event_type,
               SUM(CAST(value AS DECIMAL(18,6))) AS v
        FROM events GROUP BY hour_ts, event_type
    )
    SELECT hour_ts, event_type,
           CAST(SUM(v) OVER (PARTITION BY event_type ORDER BY hour_ts
                             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS moving_4h_value
    FROM hourly
    """,
    ops=["§2.8", "window-frame"],
)
def events_moving_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving 4-hour window sum per event type — bounded ROWS frame over
    the pre-aggregated hourly series (never the raw events: aggregate
    first, window the small series)."""
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("hour_ts"), "event_type"
    ).agg(F.sum(F.col("value").cast(DEC6)).alias("v"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_ts")
        .rowsBetween(-3, Window.currentRow)
    )
    return hourly.select(
        "hour_ts",
        "event_type",
        F.sum("v").over(w).cast("double").alias("moving_4h_value"),
    )


@register(
    "approx_sketches",
    """
    WITH ranked AS (
        SELECT o_orderpriority, o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice, o_orderkey) AS rn,
               COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
        FROM orders
    ), med AS (
        SELECT o_orderpriority, o_totalprice AS exact_median_price
        FROM ranked
        WHERE rn = CAST(FLOOR((cnt + 1) / 2.0) AS BIGINT)
    ), sk AS (
        SELECT o_orderpriority,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
               approx_count_distinct(o_custkey) AS approx_customers_raw,
               approx_quantile(o_totalprice, 0.5) AS approx_median_raw
        FROM orders
        GROUP BY o_orderpriority
    )
    SELECT sk.o_orderpriority,
           exact_customers,
           exact_median_price,
           ABS(approx_customers_raw - exact_customers)
               <= 0.05 * exact_customers AS distinct_within_bound,
           ABS(approx_median_raw - exact_median_price)
               <= 0.05 * exact_median_price AS median_within_bound
    FROM sk JOIN med USING (o_orderpriority)
    """,
    ops=["approx-distinct", "approx-percentile"],
)
def approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch path for 100 TB interactive profiling: HLL++ distinct
    counts and KLL-style quantiles — mergeable map-side, error-bounded.

    Oracle strategy: approximate values differ engine-to-engine, so the
    hashed output carries only (a) exact twins (count_distinct + lower
    discrete median, a real data element — bit-identical in both
    engines) and (b) booleans asserting each engine's OWN sketch lands
    within the documented error bound (HLL rsd=0.01 checked at 5%;
    t-digest/KLL median checked at 5% relative). Both engines' sketches
    satisfy their bounds ⇒ identical TRUE columns ⇒ hashable."""
    o = _t(spark, sf_dir, "orders")
    wr = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wc = Window.partitionBy("o_orderpriority")
    med = (
        o.select("o_orderpriority", "o_totalprice", "o_orderkey")
        .withColumn("rn", F.row_number().over(wr))
        .withColumn("cnt", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == F.floor((F.col("cnt") + 1) / 2.0).cast("long"))
        .select("o_orderpriority", F.col("o_totalprice").alias("exact_median_price"))
    )
    # The exact distinct count runs in its OWN aggregation: mixing a
    # DISTINCT aggregate with TypedImperativeAggregate sketches in one
    # agg makes Spark pre-group by (priority, custkey) and build a
    # percentile/HLL sketch PER DISTINCT KEY (~1 sketch per customer,
    # then a million-way merge) — measured 15.5 s vs 1.1 s at sf0.1.
    # Two scans + a 5-row broadcast join is the 100 TB-sane plan.
    exact = o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").cast("long").alias("exact_customers"),
    )
    sk = o.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", rsd=0.01).alias("approx_customers_raw"),
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("approx_median_raw"),
    )
    joined = (
        sk.join(F.broadcast(exact), "o_orderpriority")
        .join(F.broadcast(med), "o_orderpriority")
    )
    return joined.select(
        "o_orderpriority",
        "exact_customers",
        "exact_median_price",
        (
            F.abs(F.col("approx_customers_raw") - F.col("exact_customers"))
            <= 0.05 * F.col("exact_customers")
        ).alias("distinct_within_bound"),
        (
            F.abs(F.col("approx_median_raw") - F.col("exact_median_price"))
            <= 0.05 * F.col("exact_median_price")
        ).alias("median_within_bound"),
    )


@register(
    "viz_hover_points",
    """
    WITH pts AS (
        SELECT lower(trim(n_name)) AS name,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               COUNT(DISTINCT o_custkey) AS n_customers
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY name
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY revenue DESC, name) AS rn FROM pts
    )
    SELECT name, revenue, n_customers,
           name || '<br>Revenue ' || CAST(CAST(revenue / 1000000 AS DECIMAL(18,2)) AS VARCHAR)
                || 'M<br>Customers ' || CAST(n_customers AS VARCHAR) AS hover_text,
           CASE WHEN rn <= 3 THEN 'xl' WHEN rn <= 11 THEN 'l'
                WHEN rn <= 21 THEN 'm' ELSE 's' END AS size_bucket
    FROM ranked
    """,
    ops=["C8", "C9", "F8", "K5"],
)
def viz_hover_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The viz egress pipeline (map-making/create-maps.py): per-point
    metrics → hover-text concat (C8, MAPS:14) → positional size buckets
    over an explicit order (C9/F8, MAPS:15-24). Numbers are stringified
    through DECIMAL so both engines render identical text."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    pts = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")), o.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy(cleaning.normalize_string("n_name").alias("name"))
        .agg(
            F.sum(_dec2("o_totalprice")).cast("double").alias("revenue"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("name"))
    ranked = pts.withColumn("rn", F.row_number().over(w))
    hover = F.concat(
        F.col("name"),
        F.lit("<br>Revenue "),
        (F.col("revenue") / 1000000).cast(DEC2).cast("string"),
        F.lit("M<br>Customers "),
        F.col("n_customers").cast("string"),
    )
    bucket = (
        F.when(F.col("rn") <= 3, "xl")
        .when(F.col("rn") <= 11, "l")
        .when(F.col("rn") <= 21, "m")
        .otherwise("s")
    )
    return ranked.select(
        "name", "revenue", "n_customers", hover.alias("hover_text"), bucket.alias("size_bucket")
    )


@register(
    "pivot_event_matrix",
    """
    SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket,
           CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
           CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
           CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
           CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
           CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
    FROM events
    GROUP BY user_bucket
    """,
    ops=["pivot", "A3"],
)
def pivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide counts). Spark's .pivot with an EXPLICIT value
    list — without one, Spark runs a distinct-scan job to discover
    values, and output columns become data-dependent (both bad at scale)."""
    e = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        e.groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .pivot("event_type", types)
        .count()
    )
    # pivot yields nullable counts (null = no rows) — normalize to 0 to
    # match the CASE-count oracle
    for t in types:
        out = out.withColumn(t, F.coalesce(F.col(t), F.lit(0)).cast("long"))
    return out


@register(
    "top3_orders_per_priority",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice, rn
    FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
    ops=["§2.8", "top-k-per-group"],
)
def top3_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group — per-group window (one shuffle on the group
    key), no global-order bottleneck."""
    o = _t(spark, sf_dir, "orders")
    out = slicing.top_k_per_group(
        o.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        group_by=["o_orderpriority"],
        order_by=[F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=3,
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return out.withColumn("rn", F.row_number().over(w))


@register(
    "asof_last_purchase",
    """
    SELECT c.event_id, c.user_id, c.ts, MAX(p.ts) AS asof_ts
    FROM events c
    LEFT JOIN events p
      ON p.user_id = c.user_id AND p.event_type = 'purchase' AND p.ts <= c.ts
    WHERE c.event_type = 'click'
    GROUP BY c.event_id, c.user_id, c.ts
    """,
    ops=["asof-join"],
)
def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click paired with the user's most recent prior
    (or simultaneous) purchase. Spark lacks a native as-of join; the
    operator uses the union+window pattern — one shuffle on user_id,
    never the O(clicks × purchases) range self-join the SQL oracle
    spells (fine for DuckDB at 10k rows, fatal at 100 TB)."""
    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    return joins.asof_join(
        clicks, purchases, on=["user_id"], left_ts="ts", right_ts="ts", value_cols=["ts"]
    ).select("event_id", "user_id", "ts", F.col("asof_ts"))


@register(
    "quantiles_order_value",
    """
    SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.5) AS median_price,
           quantile_cont(o_totalprice, 0.9) AS p90_price,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    ops=["percentile", "A3"],
)
def quantiles_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile`` ==
    DuckDB ``quantile_cont``: same linear-interpolation definition on
    the same doubles). At 100 TB prefer ``approx_percentile`` (KLL-ish
    sketch, mergeable map-side) — kept exact here for the oracle."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", 0.5).alias("median_price"),
        F.percentile("o_totalprice", 0.9).alias("p90_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


# =====================================================================
# Training-data pipeline extensions (SURVEY §7.1 Phase E): dedup,
# text analysis, similarity search over documents/embeddings.
# =====================================================================


@register(
    "dedup_exact_docs",
    """
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY content_hash
    """,
    ops=["dedup-exact", "A2"],
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: hash-groupBy on md5(text), keep lowest id.
    Uniform 128-bit shuffle key ⇒ no skew at 100 TB."""
    d = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(d)


# Shared CTE: distinct word-3-gram shingles per document. Shingles, not
# unigram tokens: with a small shared vocabulary, unigrams make every
# doc pair a join candidate (measured 105 s at sf0.1 — quadratic);
# 3-grams have near-zero cross-doc frequency unless text actually
# overlaps, which is the whole point of shingling (Broder).
_SHINGLES_CTE = """
    sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id, unnest(
                [array_to_string(list_slice(toks, i + 1, i + 3), ' ')
                 FOR i IN range(0, greatest(len(toks) - 3, 0) + 1)]
            ) AS shingle
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
        ) WHERE length(shingle) > 0
    )
"""


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH {_SHINGLES_CTE}, sizes AS (
        SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY id_a, id_b
    )
    SELECT id_a, id_b, n_common, sa.set_size AS size_a, sb.set_size AS size_b,
           CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) >= 0.5
    """,
    ops=["dedup-jaccard"],
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs (threshold 0.5): self-join on
    shared shingles → exact |A∩B|/|A∪B| as a rational of counts. The
    shingle join key keeps candidate generation linear-ish in practice;
    the LSH variant below is the sub-linear 100 TB path."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    # NB: the shingle relation feeds sizes + both join sides and IS
    # recomputed per consumer (no subtree reuse in the plan) — measured
    # persist() here and it was a net LOSS at sf0.1 (cache write/read
    # costs more than re-running the codegen'd explode over the small
    # parquet scan). Revisit only when the document scan itself is the
    # dominant cost.
    sets = dedup.ngram_set(d, n=3)
    return dedup.jaccard_pairs(sets, item_col="shingle", threshold=0.5)


_MH_MINS = ",\n               ".join(
    f"MIN(md5('{i}:' || shingle)) AS mh_{i}" for i in range(16)
)
_MH_BANDS = "\n        UNION ALL\n        ".join(
    "SELECT doc_id, {b} AS band, md5({cat}) AS bucket FROM sigs".format(
        b=b,
        cat=" || '|' || ".join(f"mh_{b * 4 + r}" for r in range(4)),
    )
    for b in range(4)
)


@register(
    "dedup_minhash_lsh",
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
    )
    SELECT v.id_a, v.id_b,
           CAST(v.n_common AS DOUBLE) / (sa.set_size + sb.set_size - v.n_common) AS jaccard
    FROM verified v
    JOIN sizes sa ON sa.doc_id = v.id_a
    JOIN sizes sb ON sb.doc_id = v.id_b
    WHERE CAST(v.n_common AS DOUBLE) / (sa.set_size + sb.set_size - v.n_common) >= 0.5
    """,
    ops=["dedup-minhash-lsh"],
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16, wide single-pass) + LSH banding (4×4) candidate
    pairs over word-3-gram shingles, verified with exact Jaccard ≥ 0.5.
    The full scale pipeline: shingle → seeded-md5 minhash → band
    buckets → bucket join → verify-within-candidates (never all-pairs)."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    sets = dedup.ngram_set(d, n=3)  # recompute beats persist here; see above
    sigs = dedup.minhash_signatures(sets, num_hashes=16, item_col="shingle")
    cands = dedup.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4)
    sizes = sets.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    ta = sets.select(F.col("doc_id").alias("id_a"), "shingle")
    tb = sets.select(F.col("doc_id").alias("id_b"), "shingle")
    verified = (
        cands.join(ta, "id_a")
        .join(tb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("set_size").alias("size_b"))
    return (
        verified.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
    )


@register(
    "streaming_lsh_dedup_e2e",
    f"""
    WITH {_SHINGLES_CTE}, sigs AS (
        SELECT doc_id,
               {_MH_MINS}
        FROM sh GROUP BY doc_id
    ), bands AS (
        {_MH_BANDS}
    ), dropped AS (
        SELECT DISTINCT a.doc_id
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket
         AND (b.doc_id % 3 < a.doc_id % 3
              OR (b.doc_id % 3 = a.doc_id % 3 AND b.doc_id < a.doc_id))
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
    GROUP BY lang
    """,
    ops=["streaming-lsh-dedup", "dedup-minhash-lsh", "streaming-e2e"],
)
def streaming_lsh_dedup_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-backed streaming NEAR-dup filtering, proven end-to-end:
    documents staged as 3 mtime-ordered chunk files (chunk =
    doc_id % 3), streamed one file per micro-batch through the
    MinHash-LSH novelty filter (streaming.docs.run_stream_lsh_dedup —
    every batch probes a persistent band-bucket index of all earlier
    batches), survivors aggregated per lang. The oracle recomputes the
    same keep/drop decision in one non-recursive SQL query (a document
    is dropped iff it shares an LSH band bucket with an earlier-chunk
    document or a smaller-id document of its own chunk) — it
    hash-matches only if the streaming index filter dropped exactly
    the candidate set, across batch boundaries, and nothing else."""
    import glob
    import os
    import shutil
    import time as _time

    from ..streaming.docs import read_survivors, run_stream_lsh_dedup

    d = _t(spark, sf_dir, "documents")
    work = scratch_dir("stream_lsh", sf_dir, clean=True)
    src = f"{work}/src"
    os.makedirs(src)
    base = _time.time()
    for c in range(3):
        tmp = f"{work}/tmp{c}"
        d.filter(F.col("doc_id") % 3 == c).repartition(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        dst = f"{src}/chunk{c}.parquet"
        shutil.copyfile(glob.glob(f"{tmp}/part-*.parquet")[0], dst)
        # distinct ascending mtimes pin FileStreamSource's arrival order
        os.utime(dst, (base + c, base + c))
    run_stream_lsh_dedup(
        spark, src, f"{work}/out", f"{work}/idx", f"{work}/ckpt"
    )
    return (
        read_survivors(spark, f"{work}/out")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


@register(
    "dedup_clusters",
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
        WHERE CAST(v.n_common AS DOUBLE) / (sa.set_size + sb.set_size - v.n_common) >= 0.5
    ), edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), reach(u, label) AS (
        SELECT u, u AS label FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.u
    )
    SELECT u AS doc_id, MIN(label) AS cluster_id
    FROM reach GROUP BY u
    """.replace("WITH ", "WITH RECURSIVE ", 1),
    ops=["dedup-clusters", "connected-components", "iterative"],
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → clusters: connected components over the MinHash-LSH
    near-dup pair graph via iterative min-label propagation (the
    driver-loop iterative-algorithm pattern; O(diameter) rounds, one
    join+agg each). The SQL oracle uses a recursive CTE — identical
    fixpoint. Completes the dedup pipeline: candidates → verified
    pairs → components → survivor selection (dedup_survivors_by_quality)."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b")
    return dedup.connected_components(pairs)


@register(
    "simhash_signatures",
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
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN 1::BIGINT << CAST(bit_pos - 1 AS INTEGER)
                         ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
    ops=["dedup-simhash"],
)
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charikar SimHash (32-bit, md5-parity bit source) per document —
    near-dups differ in few bits; banding over bit slices gives the
    scale path (same S-curve machinery as MinHash LSH)."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    return dedup.simhash(d, bits=32)


@register(
    "token_count_profile",
    """
    SELECT doc_id,
           length(text) AS n_chars,
           len(string_split(lower(text), ' ')) AS n_tokens,
           len(list_distinct(string_split(lower(text), ' '))) AS n_unique_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS approx_bpe_tokens
    FROM documents
    """,
    ops=["text-tokens"],
)
def token_count_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + ~4-chars/token BPE estimate."""
    d = _t(spark, sf_dir, "documents")
    return text.token_stats(d)


@register(
    "doc_quality_score",
    """
    WITH t AS (
        SELECT doc_id,
               string_split(lower(text), ' ') AS toks
        FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS type_token_ratio,
           CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','in','is','a','that'))) AS DOUBLE)
             / len(toks) AS stopword_ratio,
           0.4 * (CASE WHEN len(toks) >= 20 AND len(toks) <= 1000 THEN 1.0 ELSE 0.0 END)
             + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
             + 0.3 * (CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','in','is','a','that'))) AS DOUBLE)
                      / len(toks)) AS quality_score
    FROM t
    """,
    ops=["text-quality"],
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality heuristics: length band + type-token ratio + stopword
    ratio, weighted — the cheap pre-filter every corpus pipeline runs."""
    d = _t(spark, sf_dir, "documents")
    return text.quality_score(d)


def _lang_hits_sql(lang: str, words: list[str]) -> str:
    wl = ", ".join(f"'{w}'" for w in words)
    return (
        f"len(list_filter(string_split(lower(text), ' '), x -> x IN ({wl})))"
        f" AS hits_{lang}"
    )


@register(
    "lang_id_predict",
    """
    WITH hits AS (
        SELECT doc_id, lang AS actual_lang,
               """
    + ",\n               ".join(
        _lang_hits_sql(lang, words)
        for lang, words in sorted(
            {
                "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein"],
                "en": ["the", "and", "of", "to", "in", "is", "a", "that"],
                "es": ["el", "la", "de", "que", "y", "los", "un", "es"],
                "fr": ["le", "la", "de", "et", "les", "des", "un", "une"],
                "zh": ["的", "是", "了", "在", "我", "有", "他", "这"],
            }.items()
        )
    )
    + """
        FROM documents
    )
    SELECT doc_id, actual_lang, hits_de, hits_en, hits_es, hits_fr, hits_zh,
           CASE
             WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr AND hits_de >= hits_zh THEN 'de'
             WHEN hits_en > hits_de AND hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_zh THEN 'en'
             WHEN hits_es > hits_de AND hits_es > hits_en AND hits_es >= hits_fr AND hits_es >= hits_zh THEN 'es'
             WHEN hits_fr > hits_de AND hits_fr > hits_en AND hits_fr > hits_es AND hits_fr >= hits_zh THEN 'fr'
             WHEN hits_zh > hits_de AND hits_zh > hits_en AND hits_zh > hits_es AND hits_zh > hits_fr THEN 'zh'
             ELSE 'de'
           END AS predicted_lang,
           CAST(CASE
             WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr AND hits_de >= hits_zh THEN 'de'
             WHEN hits_en > hits_de AND hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_zh THEN 'en'
             WHEN hits_es > hits_de AND hits_es > hits_en AND hits_es >= hits_fr AND hits_es >= hits_zh THEN 'es'
             WHEN hits_fr > hits_de AND hits_fr > hits_en AND hits_fr > hits_es AND hits_fr >= hits_zh THEN 'fr'
             WHEN hits_zh > hits_de AND hits_zh > hits_en AND hits_zh > hits_es AND hits_zh > hits_fr THEN 'zh'
             ELSE 'de'
           END = actual_lang AS INTEGER) AS is_correct
    FROM hits
    """,
    ops=["text-langid"],
)
def lang_id_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language-ID with alphabetical-first argmax tiebreak."""
    d = _t(spark, sf_dir, "documents")
    return text.lang_id(d)


@register(
    "doc_fingerprint",
    """
    WITH sh AS (
        SELECT doc_id, unnest(
            [array_to_string(list_slice(toks, i + 1, i + 3), ' ')
             FOR i IN range(0, greatest(len(toks) - 3, 0) + 1)]
        ) AS shingle
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
    ), shf AS (
        SELECT doc_id, shingle FROM sh WHERE length(shingle) > 0
    )
    SELECT doc_id,
           MIN(md5('0:' || shingle)) AS fp_0,
           MIN(md5('1:' || shingle)) AS fp_1,
           MIN(md5('2:' || shingle)) AS fp_2,
           MIN(md5('3:' || shingle)) AS fp_3,
           COUNT(DISTINCT shingle) AS n_shingles
    FROM shf GROUP BY doc_id
    """,
    ops=["text-fingerprint"],
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k sketch of rolling word-3-gram hashes — compact content
    signature; the winnowing variant lives in operators/text.py (unit-
    tested; its positional window is Spark-side only)."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    return text.bottom_k_fingerprint(d, k=4, ngram=3)


@register(
    "embedding_cosine_topk",
    """
    WITH q AS (
        SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
    ), scored AS (
        SELECT vec_id,
               list_sum(list_transform(list_zip(embedding, qv),
                                       s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(list_zip(embedding, embedding),
                                               s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(list_zip(qv, qv),
                                                 s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))))
                 AS cosine
        FROM embeddings, q
    )
    SELECT vec_id, cosine FROM scored
    ORDER BY cosine DESC, vec_id
    LIMIT 20
    """,
    ops=["similarity-brute"],
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-20 vs the vec_id=0 embedding — the exact
    ANN baseline. The query vector is a 1-row broadcast RELATION
    (similarity.cosine_topk_rel), not a driver-fetched literal; its
    norm is computed once on the broadcast side. Left-fold double dot
    products on both engines ⇒ bit-identical scores."""
    e = _t(spark, sf_dir, "embeddings", fanout=True)
    return similarity.cosine_topk_rel(e, e.filter(F.col("vec_id") == 0), k=20)


@register(
    "embedding_lsh_buckets",
    """
    WITH comp AS (
        SELECT p.plane, d.dim,
               CASE WHEN substr(md5(CAST(p.plane AS VARCHAR) || ':' || CAST(d.dim AS VARCHAR)), 1, 1)
                         IN ('1','3','5','7','9','b','d','f')
                    THEN 1.0 ELSE -1.0 END AS c
        FROM (SELECT unnest(range(8)) AS plane) p,
             (SELECT unnest(range(64)) AS dim) d
    ), proj AS (
        SELECT e.vec_id, c.plane,
               SUM(CAST(e.embedding[CAST(c.dim AS INTEGER) + 1] AS DOUBLE) * c.c) AS s
        FROM embeddings e, comp c
        GROUP BY e.vec_id, c.plane
    ), buckets AS (
        SELECT vec_id,
               CAST(SUM(CASE WHEN s > 0 THEN 1::BIGINT << CAST(plane AS INTEGER) ELSE 0 END) AS BIGINT)
                 AS bucket
        FROM proj GROUP BY vec_id
    )
    SELECT bucket, COUNT(*) AS n_vecs FROM buckets GROUP BY bucket
    """,
    ops=["similarity-lsh"],
)
def embedding_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-random-projection LSH bucket histogram (8 Rademacher
    hyperplanes from md5 parity) — the candidate-pruning stage of ANN
    at scale; entirely map-side."""
    e = _t(spark, sf_dir, "embeddings", fanout=True)
    b = similarity.lsh_bucket(e, n_planes=8)
    return b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_vecs"))


@register(
    "embedding_norms",
    """
    SELECT vec_id, label, dim,
           CAST(SUM(nano) AS DOUBLE) / 1000000000 AS sum_components,
           CAST(MAX(nano) AS DOUBLE) / 1000000000 AS max_component
    FROM (
        SELECT vec_id, label, CAST(len(embedding) AS INTEGER) AS dim,
               CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000000) AS BIGINT) AS nano
        FROM embeddings
    )
    GROUP BY vec_id, label, dim
    """,
    ops=["array-fold", "embedding-stats"],
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector component stats via array folds — stays entirely
    map-side (no explode-shuffle: the fold runs inside the row).
    Fixed-point quantization keeps sums oracle-exact (convention #7)."""
    e = _t(spark, sf_dir, "embeddings")
    nano = lambda x: F.floor(x.cast("double") * 1000000000).cast("long")
    sum_nano = F.aggregate(
        F.col("embedding"), F.lit(0).cast("long"), lambda acc, x: acc + nano(x)
    )
    max_nano = F.array_max(F.transform(F.col("embedding"), nano))
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        (sum_nano.cast("double") / 1000000000).alias("sum_components"),
        (max_nano.cast("double") / 1000000000).alias("max_component"),
    )


@register(
    "fuzzy_name_matching",
    """
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS edit_distance
    FROM (SELECT DISTINCT p_name FROM part) a
    JOIN (SELECT DISTINCT p_name FROM part) b
      ON a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
    ops=["fuzzy-match", "J2-adjacent"],
)
def fuzzy_name_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching — the engine-side answer to the
    reference's country-alias problem when the alias ISN'T in the
    lookup table (etl:31-34 falls back to the raw string; fuzzy match
    recovers typos).

    Scale pattern: LENGTH-BAND BLOCKING. distance ≤ 3 implies
    |len(a)−len(b)| ≤ 3, so each name is exploded to the bands covering
    len±3 and candidates meet in an EQUI-join on the band (hash join —
    verified: no nested-loop in the plan), with exact levenshtein as a
    residual filter. The SQL oracle spells the quadratic definition;
    results are identical because the length bound is exact, not a
    heuristic."""
    p = _t(spark, sf_dir, "part")
    names = p.select("p_name").distinct().withColumn("ln", F.length("p_name"))
    band = 4
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.explode(
            F.sequence(
                F.floor((F.col("ln") - 3) / band).cast("int"),
                F.floor((F.col("ln") + 3) / band).cast("int"),
            )
        ).alias("block"),
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.floor(F.col("ln") / band).cast("int").alias("block"),
    )
    return (
        a.join(b, on="block")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("edit_distance", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_distance") <= 3)
        .select("name_a", "name_b", "edit_distance")
        .distinct()
    )


@register(
    "skyline_customers",
    """
    SELECT c_custkey, c_acctbal, n_orders
    FROM (
        SELECT c_custkey, c_acctbal, COUNT(o_orderkey) AS n_orders
        FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        GROUP BY c_custkey, c_acctbal
    ) a
    WHERE NOT EXISTS (
        SELECT 1 FROM (
            SELECT c_custkey, c_acctbal, COUNT(o_orderkey) AS n_orders
            FROM customer LEFT JOIN orders ON o_custkey = c_custkey
            GROUP BY c_custkey, c_acctbal
        ) b
        WHERE b.c_acctbal >= a.c_acctbal AND b.n_orders >= a.n_orders
          AND (b.c_acctbal > a.c_acctbal OR b.n_orders > a.n_orders)
    )
    """,
    ops=["skyline", "preference-query"],
)
def skyline_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) over (acctbal max, order count max):
    customers not dominated on both wealth and activity. Engine side is
    the two-phase operator (local pandas skyline → tiny global
    anti-join, operators/skyline.py); the SQL oracle spells the O(n²)
    NOT EXISTS definition."""
    from ..operators.skyline import skyline

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    base = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_acctbal")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return skyline(base, [("c_acctbal", "max"), ("n_orders", "max")])


@register(
    "cleaning_corners",
    """
    WITH raw AS (
        SELECT * FROM (VALUES
            ('1.000.000'), ('1,000,000'), ('3.14'), (' 42 '), ('1.5e3'),
            (':'), (' : '), ('n/a'), (''), ('-2,500,000'), ('8.1255')
        ) AS t(v)
    )
    SELECT v,
           TRY_CAST(CASE WHEN trim(v) = ':' THEN '0'
                         WHEN regexp_matches(trim(v), '^-?\\d{1,3}([.,]\\d{3})+$')
                           THEN regexp_replace(trim(v), '[.,]', '', 'g')
                         ELSE v END AS DOUBLE) AS coerced,
           CAST(ROUND(CAST(TRY_CAST(CASE WHEN trim(v) = ':' THEN '0'
                         WHEN regexp_matches(trim(v), '^-?\\d{1,3}([.,]\\d{3})+$')
                           THEN regexp_replace(trim(v), '[.,]', '', 'g')
                         ELSE v END AS DOUBLE) AS DECIMAL(18,4)), 2) AS DOUBLE) AS rounded2
    FROM raw
    """,
    ops=["C2", "C3", "C5", "§7.4"],
)
def cleaning_corners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SURVEY §7.4 coercion corner set through the oracle gate:
    thousands separators (report §3.1.1), ':' markers, whitespace,
    exponent forms, garbage→NULL, and the HALF_UP .xx55 tie — all via
    the cleaning operator chain."""
    raw = spark.createDataFrame(
        [
            ("1.000.000",), ("1,000,000",), ("3.14",), (" 42 ",), ("1.5e3",),
            (":",), (" : ",), ("n/a",), ("",), ("-2,500,000",), ("8.1255",),
        ],
        "v string",
    )
    coerced = cleaning.coerce_numeric(
        cleaning.strip_thousands_separators(
            cleaning.replace_missing_marker("v", ":", 0)
        ),
        "double",
    )
    return raw.select(
        "v",
        coerced.alias("coerced"),
        cleaning.round_half_up(coerced.cast("decimal(18,4)"), 2)
        .cast("double")
        .alias("rounded2"),
    )


@register(
    "doc_winnowing",
    """
    WITH sh AS (
        SELECT doc_id,
               CAST(z[2] AS INTEGER) AS pos,
               CAST(z[1] AS VARCHAR) AS shingle
        FROM (
            SELECT doc_id,
                   unnest(list_zip(ngrams, range(1, len(ngrams) + 1))) AS z
            FROM (
                SELECT doc_id,
                       [array_to_string(list_slice(toks, i + 1, i + 3), ' ')
                        FOR i IN range(0, greatest(len(toks) - 3, 0) + 1)] AS ngrams
                FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
            )
        )
        WHERE length(CAST(z[1] AS VARCHAR)) > 0
    ), wm AS (
        SELECT doc_id, pos,
               MIN(md5(shingle)) OVER (PARTITION BY doc_id ORDER BY pos
                                       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
        FROM sh
    ), kept AS (
        SELECT DISTINCT doc_id, wmin FROM wm WHERE pos >= 4
    )
    SELECT doc_id,
           md5(string_agg(wmin, '|' ORDER BY wmin)) AS fingerprint,
           COUNT(*) AS n_kept
    FROM kept GROUP BY doc_id
    """,
    ops=["text-winnowing"],
)
def doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. 2003) — the positional
    sliding-window min construction, oracle-checked end to end."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    return text.winnowing_fingerprint(d, window=4, ngram=3)


@register(
    "events_zscore_outliers",
    """
    WITH stats AS (
        SELECT event_type,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean_v,
               CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*) AS mean_sq
        FROM events GROUP BY event_type
    ), st2 AS (
        -- round() barrier: DuckDB fuses mean_sq - mean_v*mean_v into an
        -- FMA (different last-ulp than the JVM's separate mul+sub);
        -- rounding to 6 decimals absorbs the ~1e-12 fusion noise
        SELECT event_type, mean_v, round(mean_sq - mean_v * mean_v, 6) AS var_v
        FROM stats
    )
    SELECT event_id, e.event_type, value,
           (value - mean_v) / sqrt(var_v) AS zscore
    FROM events e JOIN st2 s ON e.event_type = s.event_type
    WHERE abs((value - mean_v) / sqrt(var_v)) > 1.8
    """,
    ops=["stats", "A3", "V4"],
)
def events_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier detection without UDFs: per-type mean and
    variance via exact decimal sums (E[x²]−E[x]² on identical doubles ⇒
    identical sqrt), then a broadcast join back to flag |z| > 1.8.
    The expression-only version of what's usually written as a grouped
    pandas UDF — and ~100× cheaper at scale."""
    e = _t(spark, sf_dir, "events")
    v = F.col("value").cast(DEC6)
    stats = e.groupBy("event_type").agg(
        (F.sum(v).cast("double") / F.count(F.lit(1))).alias("mean_v"),
        (F.sum(v * v).cast("double") / F.count(F.lit(1))).alias("mean_sq"),
    ).withColumn(
        # round barrier against DuckDB's FMA fusion of a - b*c (see SQL)
        "var_v",
        F.round(F.col("mean_sq") - F.col("mean_v") * F.col("mean_v"), 6),
    )
    z = (F.col("value") - F.col("mean_v")) / F.sqrt(F.col("var_v"))
    return (
        e.join(F.broadcast(stats), "event_type")
        .withColumn("zscore", z)
        .filter(F.abs(F.col("zscore")) > 1.8)
        .select("event_id", "event_type", "value", "zscore")
    )


@register(
    "cube_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    ops=["A3", "grouping-sets"],
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over two dimensions (all 4 grouping sets in one
    shuffle) — completes the grouping-sets family next to rollup."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec2("o_totalprice")).cast("double").alias("total_price"),
    )


@register(
    "scd2_price_history",
    """
    WITH snap1 AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(o_totalprice AS DECIMAL(18,2)) AS price
        FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
    ), snap2 AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(CAST(o_totalprice AS DECIMAL(18,2))
                    + CASE WHEN o_orderkey % 10 = 0 THEN 5 ELSE 0 END AS DECIMAL(18,2)) AS price
        FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'
    ), v1 AS (
        SELECT *, md5(o_orderstatus || chr(31) || CAST(price AS VARCHAR)) AS row_hash,
               1 AS valid_from, CAST(NULL AS INTEGER) AS valid_to
        FROM snap1
    ), v2 AS (
        SELECT *, md5(o_orderstatus || chr(31) || CAST(price AS VARCHAR)) AS row_hash
        FROM snap2
    ), changed AS (
        SELECT c.o_orderkey FROM v1 c
        LEFT JOIN v2 i ON c.o_orderkey = i.o_orderkey
        WHERE i.row_hash IS NULL OR i.row_hash != c.row_hash
    ), closed AS (
        SELECT o_orderkey, o_orderstatus, price, row_hash, valid_from, 2 AS valid_to
        FROM v1 WHERE o_orderkey IN (SELECT o_orderkey FROM changed)
    ), still_open AS (
        SELECT * FROM v1 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changed)
    ), new_rows AS (
        SELECT i.o_orderkey, i.o_orderstatus, i.price, i.row_hash,
               2 AS valid_from, CAST(NULL AS INTEGER) AS valid_to
        FROM v2 i
        WHERE NOT EXISTS (SELECT 1 FROM v1 c
                          WHERE c.o_orderkey = i.o_orderkey AND c.row_hash = i.row_hash)
    ), hist AS (
        SELECT * FROM closed UNION ALL SELECT * FROM still_open UNION ALL SELECT * FROM new_rows
    )
    SELECT valid_from, valid_to, COUNT(*) AS n_rows,
           CAST(SUM(price) AS DOUBLE) AS total_price
    FROM hist GROUP BY valid_from, valid_to
    """,
    ops=["scd2", "merge-emulation"],
)
def scd2_price_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 change tracking (MERGE emulation, operators/history.py):
    snapshot v2 perturbs every 10th order's price — those keys close
    their v1 row and open a v2 row; pre-1998 unchanged keys stay open;
    1998+ keys arrive as new. Aggregated by (valid_from, valid_to)."""
    from ..operators import history as H

    o = _t(spark, sf_dir, "orders")
    snap1 = o.filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    ).select("o_orderkey", "o_orderstatus", _dec2("o_totalprice").alias("price"))
    snap2 = o.filter(
        F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")
    ).select(
        "o_orderkey",
        "o_orderstatus",
        (
            _dec2("o_totalprice")
            + F.when(F.col("o_orderkey") % 10 == 0, 5).otherwise(0)
        )
        .cast(DEC2)
        .alias("price"),
    )
    hist = H.snapshot_to_scd2(snap1, ["o_orderkey"], ["o_orderstatus", "price"], 1)
    merged = H.apply_changes(hist, snap2, ["o_orderkey"], ["o_orderstatus", "price"], 2)
    return merged.groupBy("valid_from", "valid_to").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("price").cast("double").alias("total_price"),
    )


@register(
    "interval_bucket_join",
    """
    WITH windows AS (
        SELECT * FROM (VALUES
            (1, TIMESTAMP '2024-01-03 00:00:00', TIMESTAMP '2024-01-05 00:00:00'),
            (2, TIMESTAMP '2024-01-10 12:00:00', TIMESTAMP '2024-01-11 06:00:00'),
            (3, TIMESTAMP '2024-01-20 00:00:00', TIMESTAMP '2024-01-22 00:00:00')
        ) AS w(window_id, w_start, w_end)
    )
    SELECT window_id, event_type, COUNT(*) AS n_events
    FROM events JOIN windows
      ON ts >= w_start AND ts < w_end
    GROUP BY window_id, event_type
    """,
    ops=["range-join"],
)
def interval_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join via day-bucket equi-join + residual filter —
    the scale pattern for point-in-interval joins: explode each interval
    to its covered day buckets, equi-join events on their day bucket
    (hash join, pruned), then apply the exact range predicate. Never the
    full cross-product the SQL oracle spells."""
    e = _t(spark, sf_dir, "events")
    windows = spark.createDataFrame(
        [
            (1, "2024-01-03 00:00:00", "2024-01-05 00:00:00"),
            (2, "2024-01-10 12:00:00", "2024-01-11 06:00:00"),
            (3, "2024-01-20 00:00:00", "2024-01-22 00:00:00"),
        ],
        "window_id int, w_start string, w_end string",
    ).select(
        "window_id",
        F.col("w_start").cast("timestamp").alias("w_start"),
        F.col("w_end").cast("timestamp").alias("w_end"),
    )
    # explode intervals to day buckets (intervals are few; events many)
    buckets = windows.select(
        "window_id",
        "w_start",
        "w_end",
        F.explode(
            F.sequence(
                F.date_trunc("day", "w_start"),
                F.date_trunc("day", F.col("w_end") - F.expr("INTERVAL 1 MICROSECOND")),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day_bucket"),
    )
    tagged = e.withColumn("day_bucket", F.date_trunc("day", "ts"))
    joined = tagged.join(F.broadcast(buckets), on="day_bucket").filter(
        (F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end"))
    )
    return joined.groupBy("window_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )


@register(
    "sql_api_revenue_rank",
    """
    SELECT o_orderpriority, order_year, total_revenue, rank_in_year
    FROM (
        SELECT o_orderpriority,
               CAST(year(o_orderdate) AS INTEGER) AS order_year,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
               RANK() OVER (PARTITION BY CAST(year(o_orderdate) AS INTEGER)
                            ORDER BY CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) DESC)
                 AS rank_in_year
        FROM orders
        GROUP BY o_orderpriority, order_year
    ) WHERE rank_in_year <= 3
    """,
    ops=["sql-api", "§2.8"],
)
def sql_api_revenue_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same engine through the Spark SQL API (temp views +
    spark.sql) — Catalyst produces the identical plan either way; this
    query keeps the SQL surface covered."""
    tune(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderpriority, order_year, total_revenue, rank_in_year
        FROM (
            SELECT o_orderpriority,
                   CAST(year(o_orderdate) AS INT) AS order_year,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
                   RANK() OVER (PARTITION BY CAST(year(o_orderdate) AS INT)
                                ORDER BY CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) DESC)
                     AS rank_in_year
            FROM orders_v
            GROUP BY o_orderpriority, order_year
        ) WHERE rank_in_year <= 3
        """
    )


@register(
    "set_ops_customers",
    """
    WITH y97 AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    ), y98 AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
    )
    SELECT 'both_years' AS cohort, COUNT(*) AS n FROM (SELECT * FROM y97 INTERSECT SELECT * FROM y98)
    UNION ALL
    SELECT 'only_1997' AS cohort, COUNT(*) AS n FROM (SELECT * FROM y97 EXCEPT SELECT * FROM y98)
    UNION ALL
    SELECT 'either_year' AS cohort, COUNT(*) AS n FROM (SELECT * FROM y97 UNION SELECT * FROM y98)
    """,
    ops=["set-ops"],
)
def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators (intersect / except / union-distinct) — cohort
    retention counts across order years. Spark plans these as
    aggregations/joins on the distinct key sets."""
    o = _t(spark, sf_dir, "orders")

    def year_keys(y):
        return (
            o.filter(
                (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
            )
            .select("o_custkey")
            .distinct()
        )

    y97, y98 = year_keys(1997), year_keys(1998)
    rows = [
        ("both_years", y97.intersect(y98)),
        ("only_1997", y97.exceptAll(y98).distinct()),
        ("either_year", y97.union(y98).distinct()),
    ]
    out = None
    for name, df in rows:
        piece = df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(name).alias("cohort"), "n"
        )
        out = piece if out is None else out.unionByName(piece)
    return out


@register(
    "label_centroids",
    """
    WITH ex AS (
        SELECT label,
               CAST(d.dim AS INTEGER) AS dim,
               CAST(FLOOR(CAST(embedding[CAST(d.dim AS INTEGER) + 1] AS DOUBLE)
                          * 1000000000) AS BIGINT) AS nano
        FROM embeddings, (SELECT unnest(range(64)) AS dim) d
    )
    SELECT label, dim,
           CAST(SUM(nano) AS DOUBLE) / COUNT(*) / 1000000000 AS centroid,
           COUNT(*) AS n_vecs
    FROM ex GROUP BY label, dim
    """,
    ops=["embedding-centroid", "A3"],
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column — the building block
    of k-means / cluster-assignment loops (one iteration = assignment
    join + this).

    Determinism: per-dimension values are quantized to nano-units with
    FLOOR (widen float→double exactly, scale, floor) and summed as
    BIGINT. floor has no tie semantics, unlike decimal casts, whose
    half-way rounding differs between Spark (HALF_UP) and DuckDB on
    exact dyadic ties — observed on this very dataset at scales 10 and
    12. Fixed-point accumulation is also the standard trick for
    order-independent float aggregation at cluster scale."""
    e = _t(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode("embedding").alias("dim", "xf")
    ).select(
        "label",
        "dim",
        F.floor(F.col("xf").cast("double") * 1000000000).cast("long").alias("nano"),
    )
    return ex.groupBy("label", "dim").agg(
        (F.sum("nano").cast("double") / F.count(F.lit(1)) / 1000000000).alias(
            "centroid"
        ),
        F.count(F.lit(1)).alias("n_vecs"),
    )


@register(
    "multimodal_binary_meta",
    """
    SELECT doc_id AS media_id,
           'text/plain' AS mime_type,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_hash
    FROM documents
    """,
    ops=["multimodal-meta"],
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: opaque payload + typed metadata, with
    JVM-side length/hash extraction (the project-before-shuffle step for
    100 TB media tables). Decode/featurize stubs live in
    operators/multimodal.py (mapInPandas, unit-tested)."""
    d = _t(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(d)
    meta = multimodal.payload_metadata(media)
    # md5 of the utf8 payload == md5 of the original text (portable)
    return meta.select("media_id", "mime_type", "n_bytes", "content_hash")


# =====================================================================
# Round 2 — relational breadth: outer joins, (not-)exists semantics,
# disjunctive pushdown, conditional-agg ratios, having + join-back,
# scalar-subquery thresholds. TPC-H Q4/Q12/Q13/Q14/Q18/Q19/Q22 shapes
# adapted to the driver's narrower schemas.
# =====================================================================


@register(
    "outer_join_order_counts",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT OUTER JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderstatus <> 'F'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
    ops=["J-outer", "A3"],
)
def outer_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left outer join with an extra join-side
    predicate (the predicate must live IN the join condition, not a
    post-filter — a post-filter would silently drop the zero-order
    customers the outer join exists to keep), COUNT of the nullable
    side, then a histogram of the counts. Two shuffles: join key, then
    count key; the second aggregation input is one row per customer, so
    it is tiny regardless of scale."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderstatus != "F"),
            "left_outer",
        )
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "exists_late_shipments",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o_orderpriority
    """,
    ops=["J4-semi", "F5", "A3"],
)
def exists_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS with a non-equi conjunct
    (shipped >90 days after order) → LEFT SEMI join whose condition
    carries both the key equality and the correlated comparison. The
    equality conjunct keeps it a hash semi-join (never nested-loop);
    the date comparison rides along as a residual."""
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem")
    late = o.join(
        l,
        (o.o_orderkey == l.l_orderkey)
        & (l.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "not_exists_rich_inactive",
    """
    WITH threshold AS (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal
        FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer c, threshold t
    WHERE c.c_acctbal > t.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY c_nationkey
    """,
    ops=["J4-anti", "A3", "scalar-subquery"],
)
def not_exists_rich_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery threshold (average positive
    balance — exact decimal sum ÷ count, oracle convention #1) +
    NOT EXISTS as a LEFT ANTI join, then per-nation aggregation. The
    scalar lands in the plan as a 1-row broadcast (cross) join; the
    anti join shuffles on the customer key."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    thr = c.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(_dec2("c_acctbal")).cast("double") / F.count(F.lit(1))).alias(
            "avg_bal"
        )
    )
    rich = c.join(F.broadcast(thr)).filter(F.col("c_acctbal") > F.col("avg_bal"))
    inactive = joins.anti_join(
        rich, o.select(F.col("o_custkey").alias("c_custkey")), on=["c_custkey"]
    )
    return inactive.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(_dec2("c_acctbal")).cast("double").alias("total_bal"),
    )


@register(
    "disjunctive_pushdown_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#3'  AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#14' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#21' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    ops=["F7-disjunctive", "J1", "A3"],
)
def disjunctive_pushdown_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs spanning both join sides. Catalyst
    derives the single-side implications (brand ∈ {...} onto the part
    scan, quantity ∈ [1,30] onto the lineitem scan) so both parquet
    scans still get PushedFilters despite the top-level OR; the full
    disjunction evaluates post-join. Part is small → broadcast."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cond = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#14")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#21")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(20, 30)
    )
    one = F.lit(1).cast("decimal(3,2)")
    joined = l.join(F.broadcast(p), l.l_partkey == p.p_partkey).filter(cond)
    return joined.agg(
        F.sum(_dec2("l_extendedprice") * (one - F.col("l_discount").cast("decimal(4,2)")))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


__all__ = [n for n in globals() if not n.startswith("__")]
