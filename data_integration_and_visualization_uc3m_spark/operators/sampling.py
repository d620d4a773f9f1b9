"""Deterministic sampling operators for training-data curation.

A 100 TB corpus is never trained on wholesale: pipelines carve
stratified, reproducible subsets (per-language quotas, per-source
rates, fixed holdouts). The standard scale trick is HASH sampling —
``keep iff h(key) mod M < rate·M`` — because it is:

  * deterministic and seed-stable (re-runs select identical rows; no
    RNG state on executors, unlike ``df.sample``),
  * embarrassingly parallel (pure map-side predicate, no shuffle, no
    coordination — survives any partitioning at any scale),
  * consistent across tables (sampling users by ``h(user_id)`` keeps
    ALL events of a kept user — join-closed subsets).

Hash primitive: the first 8 hex chars of md5 as an unsigned 32-bit
integer — portable bit-for-bit to the DuckDB oracle
(``('0x'||substr(md5(x),1,8))::BIGINT`` ≡ Spark
``conv(substring(md5(x),1,8),16,10)``), unlike xxhash64/rand.

No counterpart exists in the reference (it ingests everything:
crime_immigration_etl.py:88-150); this is a north-star extension per
SURVEY §7 phase E.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .slicing import top_k_per_group

# 2^32 — the hash space of the first 8 md5 hex chars.
HASH_SPACE = 1 << 32


def hash_bucket(col: F.Column, seed: str = "s0") -> F.Column:
    """Uniform deterministic bucket in [0, 2^32) from a key column.

    Map-side only: md5 of ``seed || ':' || key``, first 8 hex chars,
    base-16 → base-10. ``conv`` returns a decimal string; cast LONG.
    """
    h = F.md5(F.concat_ws(":", F.lit(seed), col.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


def hash_sample(
    df: DataFrame, key_col: str, rate: float, seed: str = "s0"
) -> DataFrame:
    """Keep a deterministic ``rate`` fraction of rows by key hash.

    Pure filter — Catalyst keeps it map-side and pushes surviving
    predicates below it; no shuffle at any scale.
    """
    threshold = int(rate * HASH_SPACE)
    return df.filter(hash_bucket(F.col(key_col), seed) < F.lit(threshold))


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    seed: str = "s0",
) -> DataFrame:
    """Per-stratum hash sampling (e.g. language rebalancing: keep 25%
    of English, 100% of low-resource languages).

    The rate table is a CASE expression, not a join — strata counts are
    small and known; the filter stays map-side.
    """
    expr = F.lit(int(default_rate * HASH_SPACE))
    for stratum, rate in sorted(rates.items()):
        expr = (
            F.when(F.col(strata_col) == stratum, F.lit(int(rate * HASH_SPACE)))
            .otherwise(expr)
        )
    return df.filter(hash_bucket(F.col(key_col), seed) < expr)


def balance_to_min_stratum(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    seed: str = "s0",
) -> DataFrame:
    """Target-mix rebalancing with DATA-DERIVED rates: downsample every
    stratum to (approximately) the size of the smallest one — the
    balanced-corpus operator (e.g. equalize languages before training).
    Unlike ``stratified_hash_sample`` the per-stratum rates are not
    given by the caller; they are computed from the data in one tiny
    aggregation, so the same call rebalances any corpus.

    The per-stratum threshold is exact integer math,
    ``(n_min · 2^32) div n_stratum`` (no float rounding — the oracle
    reproduces it bit-for-bit; n_min · 2^32 fits in a signed BIGINT
    while n_min < 2^31 — beyond ~2 billion rows in the SMALLEST
    stratum the threshold computation should move to DECIMAL). The
    smallest stratum's threshold is exactly 2^32: it is kept whole.

    NULL strata are EXCLUDED up front: an unlabeled row cannot claim a
    stratum budget, and without the explicit filter a NULL group would
    drive ``n_min`` (shrinking every real stratum) while its own rows
    silently vanished in the non-null-safe equi-join — the worst of
    both. Callers wanting NULL as a real category should coalesce it
    to a sentinel first.

    Scale: one count aggregation over the strata (tiny result), a
    1-row min, a broadcast join of the per-stratum thresholds, then a
    pure map-side filter — no shuffle of the data rows at any scale.
    """
    df = df.filter(F.col(strata_col).isNotNull())
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_n"))
    nmin = counts.agg(F.min("_n").alias("_nmin"))
    thresholds = counts.crossJoin(F.broadcast(nmin)).select(
        strata_col,
        F.expr(f"(_nmin * {HASH_SPACE}L) div _n").alias("_thr"),
    )
    return (
        df.join(F.broadcast(thresholds), strata_col)
        .filter(hash_bucket(F.col(key_col), seed) < F.col("_thr"))
        .drop("_thr")
    )


def weighted_hash_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    base_rate: float,
    seed: str = "s0",
) -> DataFrame:
    """Deterministic WEIGHTED sampling: keep a row iff
    ``hash_fraction(key) < base_rate · weight`` — acceptance
    probability proportional to a per-row weight in [0, 1] (e.g. a
    quality score), so high-quality documents are preferentially
    retained at a controlled overall budget.

    Same properties as plain hash sampling: map-side, seed-stable,
    re-runs select identical rows. The comparison is done in exact
    integer space (hash < floor(rate · weight · 2^32)) so the oracle
    reproduces it bit-for-bit.

    Weight domain: weights are clamped to [0, 1] before use — a weight
    above 1 cannot silently raise acceptance past ``base_rate`` and a
    negative weight cannot produce a negative threshold. A NULL weight
    is treated as 0 (the row is deterministically dropped): an unscored
    row has no claim on the sampling budget, and making that explicit
    beats the NULL-comparison silently filtering it.
    """
    w = F.least(F.greatest(F.coalesce(F.col(weight_col), F.lit(0.0)),
                           F.lit(0.0)), F.lit(1.0))
    thr = F.floor(
        F.lit(float(base_rate)) * w * F.lit(float(HASH_SPACE))
    ).cast("long")
    return df.filter(hash_bucket(F.col(key_col), seed) < thr)


def quota_per_group(
    df: DataFrame,
    group_col: str,
    n: int,
    key_col: str,
    seed: str = "s0",
) -> DataFrame:
    """Exactly-N-per-group sampling (uniform without replacement,
    deterministic): rank rows inside each group by their key hash and
    keep the first N. Hash order is uniform ⇒ the quota is an unbiased
    sample; the (hash, key) sort key is collision-proof ⇒ reproducible.

    One shuffle on ``group_col``; with AQE, skewed groups split. This
    is the distributed replacement for reservoir sampling — same
    guarantee, no sequential state. It is also the per-source
    frequency cap (``seed="cap"``): the rank-then-filter shape is
    rewritten to a WindowGroupLimit, so each partition keeps at most
    ``n`` rows per group before the exchange.
    """
    return top_k_per_group(
        df, [group_col], [hash_bucket(F.col(key_col), seed), F.col(key_col)], n
    )


def split_train_holdout(
    df: DataFrame, key_col: str, holdout_rate: float = 0.1, seed: str = "split"
) -> DataFrame:
    """Tag each row train/holdout by key hash — the leakage-safe way to
    hold out evaluation data (same key always lands on the same side,
    across runs AND across tables sharing the key)."""
    threshold = int(holdout_rate * HASH_SPACE)
    side = F.when(
        hash_bucket(F.col(key_col), seed) < F.lit(threshold), F.lit("holdout")
    ).otherwise(F.lit("train"))
    return df.withColumn("split", side)


def training_shuffle(
    df: DataFrame,
    key_col: str = "doc_id",
    seed: str = "s0",
    shards: int = 64,
) -> DataFrame:
    """Deterministic global shuffle for training-order randomization.

    Global row order = lexicographic ``(shard, shuffle_rank)``. A
    single global sort would serialize into one partition; instead the
    hash key is split into a shard (its low bits mod ``shards``) and a
    within-shard rank over the full md5 — each shard sorts locally
    after one hash shuffle, and a training job reads shard files in
    order. Seed-stable: same seed ⇒ identical order on any cluster
    layout; a new seed is a fresh permutation.
    """
    h = F.md5(F.concat_ws(":", F.lit(seed), F.col(key_col).cast("string")))
    out = df.withColumn("_h", h).withColumn(
        "shard", (hash_bucket(F.col(key_col), seed) % shards).cast("int")
    )
    w = Window.partitionBy("shard").orderBy(F.col("_h"), F.col(key_col))
    return (
        out.withColumn("shuffle_rank", F.row_number().over(w).cast("int"))
        .drop("_h")
    )


def pps_systematic_sample(
    df: DataFrame,
    order_by: list,
    weight_col: str,
    n_target: int,
) -> DataFrame:
    """Systematic probability-proportional-to-size sampling: lay the
    population's integer weights end-to-end on a line (exact global
    prefix sums via slicing.global_prefix_sum — no single-partition
    window), cut the line into ``n_target`` equal strides, and keep
    each item that contains a stride boundary. Selection probability
    is proportional to weight, the draw count is n_target (±1 at the
    tail), items heavier than a stride are always kept — and the
    whole construction is INTEGER arithmetic on a deterministic
    order, so the "random" sample is exactly reproducible across
    engines, runs, and partitionings (the zero-float analogue of the
    md5-bucket samplers above; vary the order columns to re-draw).

    An item [cum−w, cum) is selected iff it contains a multiple of
    ``stride = total div n_target``: equivalently
    ``cum div stride > (cum − w) div stride``.

    Returns the selected rows + ``__cum`` (the item's inclusive
    prefix weight — its position on the line).
    """
    from .slicing import global_prefix_sum

    pre = global_prefix_sum(df, order_by, weight_col, "__cum")
    total = pre.agg(F.max("__cum").alias("__total"))
    return (
        pre.crossJoin(F.broadcast(total))
        .filter(
            F.expr(
                f"__cum div (__total div {n_target}) "
                f"> (__cum - {weight_col}) div (__total div {n_target})"
            )
        )
        .drop("__total")
    )
