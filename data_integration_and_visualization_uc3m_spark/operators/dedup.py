"""Deduplication operators — exact and near-duplicate (SURVEY.md §2.6 +
the training-data-pipeline extensions).

The reference's dedup surface is keyed ``drop_duplicates``
(``crime_immigration_etl.py:199-203,335-368``), which is
``slicing.top_k_per_group`` with k=1; the 100 TB extension adds
document-level exact and near-dup detection, all built on one portable
primitive: ``md5`` (identical across Spark and the DuckDB oracle, so
every operator here is oracle-checkable — no engine-specific hashes).

Scale design:
- exact dedup = hash-groupBy on the content hash (one shuffle on md5,
  uniformly distributed ⇒ no skew);
- MinHash/LSH = shingle → per-seed min-hash → band → bucket-join;
  candidate verification only within buckets (the classic
  Broder/Indyk-Motwani construction, public literature);
- SimHash = per-token hash bits summed per document (Charikar);
- n-gram Jaccard = token-set self-join restricted to shared tokens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._ck import ck_rdd_id, unpersist_by_id

# --- document-level exact dedup -------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact content dedup via hash-groupBy: keep the lowest id per
    distinct content hash. md5 is computed map-side; the shuffle key is
    the 128-bit hash, so distribution is uniform regardless of content
    skew. Returns the surviving rows' ids + the group size."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def tokens(text_col) -> "F.Column":
    """Whitespace tokenization of lower-cased text — the shared
    normalization for all near-dup operators (kept trivially portable to
    the SQL oracle: lower + split on single spaces)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.lower(c), " ")


def token_set(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Explode documents to distinct (id, token) pairs — the base relation
    for Jaccard and MinHash.

    Dedup happens IN-ROW (``array_distinct`` before the explode), not
    with a cross-row ``distinct()``: tokens only repeat within one
    document (``id_col`` is unique), so the set semantics are identical
    and the full shuffle of the exploded relation disappears — at
    100 TB that exchange was the largest intermediate in every near-dup
    pipeline. Zero shuffles here; the first exchange is whatever the
    consumer aggregates on."""
    toks = F.array_distinct(
        F.filter(tokens(text_col), lambda t: t != F.lit(""))
    )
    return df.select(F.col(id_col), F.explode(toks).alias("token"))


def ngram_set(
    df: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct word n-gram (shingle) relation per document.

    Built with sequence+transform over the token array — stays inside
    codegen, no UDF. n-grams are space-joined strings.
    """
    toks = tokens(text_col)
    ngrams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    # in-row distinct (see token_set): shingles repeat only within a
    # document, so array_distinct before the explode replaces the
    # cross-row distinct() and its full shuffle of the shingle relation
    distinct_ngrams = F.array_distinct(
        F.filter(ngrams, lambda s: F.length(s) > 0)
    )
    return df.select(F.col(id_col), F.explode(distinct_ngrams).alias("shingle"))


def char_gram_set(
    df: DataFrame, k: int = 30, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct character k-gram (sliding window) relation per document
    — the candidate unit of EXACT-SUBSTRING dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): two
    documents that share ANY length-k character window share a verbatim
    substring of length ≥ k, the strongest (and cheapest to verify)
    duplication signal a training corpus has. The suffix-array build
    the paper uses is a single-machine construction; the distributed
    re-expression is this window relation + the same grouped pair
    machinery as every other set-similarity operator here.

    Windows are md5-hashed IN-ROW (the 128-bit digest replaces the
    k-char payload before the explode, so the shuffled relation carries
    fixed 16-byte keys, not document text), and deduped in-row
    (``array_distinct``) like every set relation in this module — zero
    shuffles until the consumer aggregates. Documents shorter than k
    contribute their whole text as the single window (substring
    truncates identically in both engines).

    The key is the RAW 16-byte digest (``unhex(md5(…))``), not the
    32-char hex string (r15 opt, guide §2.3 narrower types): unhex is
    a bijection of the hex spelling, so every downstream
    equality/grouping/ordering is unchanged (hex is monotone in byte
    order) while each key crossing an exchange halves. Consumers never
    emit the gram itself — only ids and counts — so oracle outputs are
    untouched.
    """
    txt = F.col(text_col)
    n_pos = F.greatest(F.length(txt) - k + 1, F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), n_pos),
        lambda p: F.unhex(F.md5(F.substring(txt, p, F.lit(k)))),
    )
    return df.select(
        F.col(id_col), F.explode(F.array_distinct(grams)).alias("gram")
    )


def exact_substring_pairs(
    df: DataFrame,
    k: int = 30,
    max_df_frac: float = 0.02,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Documents sharing ≥1 verbatim length-k character window, with
    the shared-window count and each side's window-set size (the
    containment of the windows bounds how much of the shorter document
    is verbatim-duplicated text).

    Same scale story as word-shingle Jaccard: the df cap bounds
    Σ df(gram)² candidate volume (a boilerplate header window shared by
    1% of the corpus must not fan out quadratically), and the grouped
    pair-explode does one shuffle of the window relation. At 100 TB
    k-char windows outnumber word shingles ~5×; the md5-key shuffle
    stays uniform, and the df cap is the knob that keeps the pair stage
    bounded.
    """
    sets = df_capped_sets(
        char_gram_set(df, k, id_col, text_col),
        max_df_frac=max_df_frac,
        id_col=id_col,
        item_col="gram",
    )
    return _pair_intersections(sets, id_col=id_col, item_col="gram").select(
        "id_a", "id_b", "n_common", "size_a", "size_b"
    )


def split_leakage_pairs(
    df: DataFrame,
    holdout_frac: float = 0.2,
    seed: str = "split",
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train/holdout CONTAMINATION audit: near-duplicate pairs that
    cross a deterministic hash split — the eval-set leakage check every
    training pipeline needs before trusting held-out metrics (a
    held-out document whose near-dup sits in train is a leaked label).

    The split is the same md5-bucket primitive as the samplers
    (operators/sampling.py:hash_bucket — map-side, reproducible across
    runs and engines); near-dup pairs come from the word-n-gram Jaccard
    core, so the scale bounds are inherited unchanged. The split labels
    join back onto the pair relation by each side's id (two broadcast-
    sized probes of the verdict-carrying scan at this SF; at 100 TB the
    id→split map is a pure recomputation of the hash, so the join can
    be replaced by re-deriving the bucket on each pair side — zero
    extra scans).
    """
    from .sampling import HASH_SPACE, hash_bucket

    thr = int(holdout_frac * HASH_SPACE)
    split = (
        F.when(hash_bucket(F.col(id_col), seed) < F.lit(thr), F.lit("holdout"))
        .otherwise(F.lit("train"))
        .alias("split")
    )
    sets = ngram_set(df, n, id_col, text_col)
    pairs = jaccard_pairs(sets, id_col=id_col, item_col="shingle", threshold=threshold)
    splits = df.select(F.col(id_col), split)
    sa = splits.select(
        F.col(id_col).alias("id_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col(id_col).alias("id_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "split_a", "split_b", "jaccard")
    )


def df_capped_sets(
    sets_df: DataFrame,
    max_df_frac: float = 0.01,
    id_col: str = "doc_id",
    item_col: str = "shingle",
) -> DataFrame:
    """Stop-shingle removal: drop items whose document frequency exceeds
    ``max_df_frac`` of the corpus before any set-similarity self-join.

    This is THE lever that keeps Jaccard/MinHash sub-quadratic at
    100 TB: candidate volume is Σ df(item)², so one boilerplate shingle
    shared by 1% of a billion documents alone yields 10^14 candidate
    pairs. High-df items carry no near-dup signal (they don't
    discriminate) — removing them changes Jaccard marginally and
    collapses the join fan-out.

    Shape: one aggregation on the item (already the self-join key, so
    no extra shuffle pattern), a 1-row corpus count broadcast into the
    threshold (lazy — no driver action, no extra scan job), and a
    broadcast ANTI-join of the set relation against the OVER-threshold
    items. The anti side is bounded by construction — at most
    (avg items per doc) / max_df_frac distinct items can exceed
    frac·N — so it broadcasts at ANY corpus size, and the relation
    itself crosses the network once (the df aggregation) instead of
    twice (r14 opt: the former semi-join against the SURVIVING items
    shuffled both the relation and a near-full copy of its item
    universe — measured 3.2 s → 1.3 s on the 1.34M-row char-gram
    relation, kept rows identical: df <= thr ⟺ NOT df > thr and every
    present item has df ≥ 1). The threshold is floor(frac·N) — double
    multiply then floor, identical in both engines, then an exact
    integer compare.

    NULL items are dropped up front (matching the pre-r14 semi-join,
    which never matched a NULL key; an anti-join alone would KEEP
    NULL-item rows — ADVICE r14). The forced broadcast of the
    over-threshold set is bounded by (avg items per doc)/max_df_frac —
    parameter-dependent: a pathologically small ``max_df_frac`` (say
    1e-4 against ~1000 items/doc) pushes that bound toward 10M keys;
    keep the fraction ≥ ~1e-3 or drop the hint for such sweeps.
    """
    totals = sets_df.agg(F.count_distinct(F.col(id_col)).alias("_n_docs"))
    present = sets_df.filter(F.col(item_col).isNotNull())
    hot_items = (
        present.groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(totals))
        .filter(F.col("df") > F.floor(F.lit(max_df_frac) * F.col("_n_docs")))
        .select(item_col)
    )
    return present.join(F.broadcast(hot_items), item_col, "left_anti")


def contaminated_docs(
    corpus_sets: DataFrame,
    benchmark_sets: DataFrame,
    id_col: str = "doc_id",
    item_col: str = "shingle",
) -> DataFrame:
    """Benchmark decontamination report: corpus documents sharing at
    least one shingle with a held-out benchmark/eval set, with the
    number of overlapping shingles.

    The standard training-data hygiene step (the reference has no
    analogue; public precedent: GPT-3/Gopher n-gram decontamination).
    Shape at 100 TB: the benchmark shingle set is small (evals are
    thousands of docs, not billions) — distinct-project it and the
    semi-join broadcasts; the corpus is never self-joined, so cost is
    one scan + one map-side membership probe + one groupBy(id).
    """
    bench_items = benchmark_sets.select(item_col).distinct()
    return (
        corpus_sets.join(F.broadcast(bench_items), item_col, "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )


def jaccard_pairs_df_capped(
    sets_df: DataFrame,
    max_df_frac: float = 0.02,
    id_col: str = "doc_id",
    item_col: str = "shingle",
    threshold: float = 0.5,
) -> DataFrame:
    """Fused df-cap + Jaccard pairs: ``df_capped_sets`` followed by
    ``jaccard_pairs`` groups the set relation by the item twice (once
    to measure df, once for pair generation) with a semi-join between.
    Since the pair generator already holds each item's sorted id list,
    the df cap is just a LENGTH FILTER on that list — one grouping
    total, and per-doc capped sizes come from re-exploding the kept
    lists. Two fewer shuffles and one less scan of the exploded set
    relation; identical semantics (sets_df is distinct per (id, item),
    so len(ids) ≡ df). Same output contract as ``jaccard_pairs``.
    """
    totals = sets_df.agg(F.count_distinct(F.col(id_col)).alias("_n_docs"))
    kept = (
        sets_df.groupBy(item_col)
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .crossJoin(F.broadcast(totals))
        .filter(
            F.size("ids") <= F.floor(F.lit(max_df_frac) * F.col("_n_docs"))
        )
        .select(item_col, "ids")
    )
    sizes = (
        kept.select(F.explode("ids").alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("set_size"))
    )
    ids = kept.filter(F.size("ids") >= 2)
    pair_arr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids")) - i - 1),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    inter = (
        ids.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "size_a", "size_b", "jaccard")
    )


def jaccard_pairs(
    sets_df: DataFrame,
    id_col: str = "doc_id",
    item_col: str = "token",
    threshold: float = 0.5,
) -> DataFrame:
    """n-gram/token Jaccard near-dup pairs.

    Self-join restricted to shared items (the only pairs with non-zero
    intersection), count intersections, then |A∪B| = |A|+|B|−|A∩B|.
    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥ threshold.

    Scale: the join key is the item (token/shingle); hot items explode
    the candidate space — at 100 TB, drop stop-shingles (document
    frequency cap) before the self-join, which is also what keeps the
    LSH variant cheap. Jaccard is returned as an exact rational
    (intersection / union counts), so oracle comparison is exact.
    """
    inter = _pair_intersections(sets_df, id_col, item_col)
    return (
        inter.withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "size_a", "size_b", "jaccard")
    )


def _pair_intersections(
    sets_df: DataFrame, id_col: str = "doc_id", item_col: str = "shingle"
) -> DataFrame:
    """Shared candidate core for set-similarity measures: unordered
    (id_a < id_b) pairs with intersection and both set sizes.

    Grouped pair-explode instead of a self-join on the item: one
    shuffle of the set relation (groupBy item) + an in-row combination
    explode, vs THREE exchanges for the join form (both join sides +
    the pair aggregation). Σ df(item)² pair rows either way — the df
    cap (``df_capped_sets``) is what bounds that at scale; per-item
    arrays are df-sized, so memory is bounded by the same cap.
    Measured 2.8 s → 1.6 s on the sf0.1 3-gram corpus."""
    sizes = sets_df.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    ids = (
        sets_df.groupBy(item_col)
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids")) - i - 1),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    inter = (
        ids.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    return inter.join(sa, "id_a").join(sb, "id_b")


def cooccurrence_lift_pairs(
    sets_df: DataFrame,
    id_col: str,
    item_col: str,
    min_co: int = 3,
) -> DataFrame:
    """Association mining (market-basket): support / confidence / lift
    for pairs of values co-occurring in the same basket. Call with
    ``id_col`` = the product/value column and ``item_col`` = the
    basket/transaction column: the grouped pair-explode core then emits
    product pairs sharing a basket, with each product's basket count.

    ``min_co`` prunes the singleton-pair tail BEFORE the ratio math
    (support below noise carries no signal and dominates the output
    volume). The basket-count total is a 1-row broadcast. All ratios
    are doubles of exact integers:

        support      = co / n_baskets
        confidence   = co / n_a          (a ⇒ b rule)
        lift         = co · n_baskets / (n_a · n_b)

    Scale: candidate volume is Σ basket_size², the same bound as every
    set-similarity operator here — cap basket size upstream for
    degenerate mega-baskets (cf. user_cooccurrence_pairs).
    """
    rel = sets_df.select(
        F.col(id_col).alias("doc_id"), F.col(item_col).alias("shingle")
    ).distinct()
    inter = _pair_intersections(rel)
    totals = rel.agg(F.count_distinct("shingle").alias("_n_baskets"))
    co = F.col("n_common")
    n = F.col("_n_baskets")
    return (
        inter.filter(co >= F.lit(min_co))
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("id_a"),
            F.col("id_b"),
            co.alias("co"),
            F.col("size_a").alias("n_a"),
            F.col("size_b").alias("n_b"),
            (co.cast("double") / n).alias("support"),
            (co.cast("double") / F.col("size_a")).alias("conf_a_to_b"),
            (
                co.cast("double") * n / (F.col("size_a") * F.col("size_b"))
            ).alias("lift"),
        )
    )


def containment_pairs(
    sets_df: DataFrame,
    id_col: str = "doc_id",
    item_col: str = "shingle",
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric near-dup: one document's shingle set mostly CONTAINED
    in another's (quote inclusion, page-within-crawl, prefix/suffix
    duplication) — pairs Jaccard misses when sizes differ a lot.

    containment = |A∩B| / min(|A|, |B|): the smaller side's coverage.
    Same candidate core (and the same df-cap scale bound) as Jaccard;
    only the residual measure differs. Exact rational ⇒ oracle-exact.
    """
    inter = _pair_intersections(sets_df, id_col, item_col)
    containment = F.col("n_common") / F.least(F.col("size_a"), F.col("size_b"))
    return (
        inter.withColumn("containment", containment)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "n_common", "size_a", "size_b", "containment")
    )


# --- MinHash + LSH ---------------------------------------------------------


def minhash_signatures(
    sets_df: DataFrame,
    num_hashes: int = 16,
    id_col: str = "doc_id",
    item_col: str = "token",
) -> DataFrame:
    """MinHash signatures via seeded md5 (portable, oracle-checkable).

    hash_i(item) = md5(i || ':' || item); signature_i = min over items.
    md5's 128 bits are far past the collision needs of minhash, and the
    string min is a valid total order.

    WIDE single-pass form: all ``num_hashes`` mins are aggregation
    expressions over ONE scan of the set relation — no seed explode
    (a seed explode multiplies the shuffle by num_hashes; measured 16×
    row inflation and ~10× wall time at sf0.1). Partial aggregation
    combines map-side, so the only shuffle is |docs| rows wide.

    Output: (id, mh_0 … mh_{n-1}).
    """
    aggs = [
        F.min(F.md5(F.concat_ws(":", F.lit(i), F.col(item_col)))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return sets_df.groupBy(id_col).agg(*aggs)


def _band_exprs(bands: int, rows_per_band: int) -> list:
    """THE band-bucket construction, in one place: band b's bucket is
    md5 of its ``rows_per_band`` signature columns concat-joined with
    '|' in seed order. ``band_buckets``, ``lsh_candidate_pairs`` and
    the SQL oracle (_MH_BANDS in queries.py) must all stay
    bit-identical — a drift in separator or seed order desynchronizes
    the streaming index from the batch pipeline silently."""
    return [
        F.md5(
            F.concat_ws(
                "|",
                *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)],
            )
        ).alias(f"band_{b}")
        for b in range(bands)
    ]


def band_buckets(
    signatures: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Long-form LSH band buckets: one (id, band, bucket) row per band
    (construction: ``_band_exprs``). This is the shape a persistent
    dedup INDEX stores: new documents probe it with an equi-join on
    (band, bucket)."""
    wide = signatures.select(F.col(id_col), *_band_exprs(bands, rows_per_band))
    stack = ", ".join(f"{b}, band_{b}" for b in range(bands))
    return wide.selectExpr(id_col, f"stack({bands}, {stack}) AS (band, bucket)")


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH banding over wide signatures: band b's bucket is the md5 of
    its ``rows_per_band`` signature columns concatenated in seed order
    (engine-portable: same construction in the SQL oracle). Candidate
    pairs share any band bucket; P(candidate | Jaccard s) =
    1 − (1 − s^r)^b — the standard S-curve.

    Scale: the bucket self-join replaces all-pairs O(n²); bucket sizes
    are bounded by true near-dup cluster sizes because random md5
    buckets don't collide meaningfully at 128 bits.
    """
    banded_wide = signatures.select(
        F.col(id_col), *_band_exprs(bands, rows_per_band)
    )
    stack = ", ".join(f"{b}, band_{b}" for b in range(bands))
    # carry every band hash alongside the exploded (band, bucket) so the
    # join can test earlier bands without a second lookup
    banded = banded_wide.selectExpr(
        id_col,
        *[f"band_{b}" for b in range(bands)],
        f"stack({bands}, {stack}) AS (band, bucket)",
    )
    a = banded.alias("a")
    b = banded.alias("b")
    # First-match-only emission (same construction as
    # simhash_hamming_pairs): a pair sharing k band buckets is emitted
    # only by the first one, replacing a distinct() shuffle over the
    # candidate set with a cheap per-row predicate.
    first_match = F.lit(True)
    for k in range(1, bands):
        earlier_differ = F.lit(True)
        for j in range(k):
            earlier_differ = earlier_differ & (
                F.col(f"a.band_{j}") != F.col(f"b.band_{j}")
            )
        first_match = F.when(F.col("a.band") == k, earlier_differ).otherwise(
            first_match
        )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(first_match)
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
    )


def lsh_probe_pairs(
    index_sigs: DataFrame,
    query_sigs: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Probe a FROZEN LSH band index with a new batch's signatures —
    the incremental-ingest shape of ``lsh_candidate_pairs``: the index
    side's band buckets are already materialized in a store, and each
    arriving document only joins its own ``bands`` bucket rows against
    it (never re-pairing old-vs-old). Candidate = any shared band
    bucket; first-shared-band emission keeps each (new, old) pair
    single without a distinct() shuffle over the candidate set.

    Returns (new_id, old_id). Scale: the probe join is |new|·bands
    rows against the index relation on (band, bucket) — incremental
    cost is proportional to the BATCH, not the corpus, which is what
    makes continuous dedup of a growing 100 TB corpus affordable."""
    iw = index_sigs.select(
        F.col(id_col).alias("old_id"), *_band_exprs(bands, rows_per_band)
    )
    qw = query_sigs.select(
        F.col(id_col).alias("new_id"), *_band_exprs(bands, rows_per_band)
    )
    stack = ", ".join(f"{b}, band_{b}" for b in range(bands))
    carried = [f"band_{b}" for b in range(bands)]
    o = iw.selectExpr(
        "old_id", *carried, f"stack({bands}, {stack}) AS (band, bucket)"
    ).alias("o")
    q = qw.selectExpr(
        "new_id", *carried, f"stack({bands}, {stack}) AS (band, bucket)"
    ).alias("q")
    first_match = F.lit(True)
    for k in range(1, bands):
        earlier_differ = F.lit(True)
        for j in range(k):
            earlier_differ = earlier_differ & (
                F.col(f"q.band_{j}") != F.col(f"o.band_{j}")
            )
        first_match = F.when(F.col("q.band") == k, earlier_differ).otherwise(
            first_match
        )
    return (
        q.join(
            o,
            (F.col("q.band") == F.col("o.band"))
            & (F.col("q.bucket") == F.col("o.bucket")),
        )
        .filter(first_match)
        .select("new_id", "old_id")
    )


def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 20
) -> DataFrame:
    """Resolve near-dup PAIRS into CLUSTERS: connected components via
    iterative min-label propagation (each node adopts the smallest label
    among itself and its neighbors until fixpoint).

    The driver loop runs O(component-diameter) rounds — for dedup
    graphs (dense near-dup cliques) that's 1-3 rounds; the per-round
    work is one join + one aggregation, fully distributed. This is the
    standard large-scale construction (hash-to-min); the driver only
    checks a one-row convergence count per round.

    Output: (doc_id, cluster_id = min node id in the component), one
    row per node that appears in any pair.

    Storage hygiene: every round's ``localCheckpoint`` materializes
    storage blocks that ``DataFrame.unpersist()`` can NOT free (they
    belong to the internal checkpointed RDD, not the Dataset cache —
    measured), and the ContextCleaner only reclaims them after a driver
    full GC, which the JVM may defer for many minutes. Left alone, a
    session invoking this repeatedly degrades 3-5× (measured 3.3 s →
    11-19 s over a long bench session). So superseded checkpoints are
    freed eagerly and EXACTLY: each checkpointed DataFrame's backing
    RDD id is read from its LogicalRDD plan node and unpersisted the
    moment the next round's checkpoint replaces it (the final round's
    stays — it serves the returned DataFrame). Tracking exact ids, not
    a diff of the global persistent-RDD registry, keeps this safe under
    concurrent persists elsewhere in the session (e.g. a streaming
    foreachBatch caching its micro-batch on another thread).
    """
    # id read + free shared with the similarity module (operators/
    # _ck.py, ADVICE r14): exact by backing-RDD id, degrading to
    # ContextCleaner GC when the private plan path is unavailable.
    spark = pairs.sparkSession

    def _ck_rdd_id(df: DataFrame) -> int | None:
        return ck_rdd_id(df)

    def _unpersist(rdd_id: int | None) -> None:
        if rdd_id is not None:
            unpersist_by_id(spark, rdd_id)

    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .unionByName(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
        .distinct()
        # materialize ONCE: the iteration re-reads edges every round and
        # triggers an action per convergence check — without this, an
        # expensive upstream pairs pipeline (e.g. the full MinHash-LSH
        # chain) re-executes per round (measured 24 s vs 6 s at sf0.1)
        .localCheckpoint()
    )
    edges_id = _ck_rdd_id(edges)
    prev_round_id: int | None = None
    labels = edges.select("u").distinct().withColumn("label", F.col("u"))
    for _ in range(max_iter):
        # disjoint column names per step — labels derives from edges, so
        # qualified self-join references would be ambiguous otherwise
        nbr = edges.select(F.col("u").alias("nu"), F.col("v").alias("nv"))
        lab_v = labels.select(F.col("u").alias("nv"), F.col("label").alias("vlabel"))
        neighbor_min = (
            nbr.join(lab_v, "nv")
            .groupBy(F.col("nu").alias("u"))
            .agg(F.min("vlabel").alias("nmin"))
        )
        merged = labels.join(neighbor_min, "u", "left").select(
            "u",
            F.col("label").alias("old_label"),
            F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias(
                "label"
            ),
        )
        # checkpoint BEFORE the convergence check: the checkpoint action
        # is the round's single execution of the join+agg, and the
        # changed-count then scans the checkpointed rows (running the
        # count on `merged` directly would execute the subtree twice
        # per round). Also truncates the iterative lineage, whose plan
        # otherwise doubles per round.
        merged_ck = merged.localCheckpoint()
        if prev_round_id is not None:
            _unpersist(prev_round_id)  # superseded by this checkpoint
        prev_round_id = _ck_rdd_id(merged_ck)
        changed = (
            merged_ck.filter(F.col("label") != F.col("old_label")).limit(1).count()
        )
        labels = merged_ck.select("u", "label")
        if not changed:
            break
    # edges are not needed once the loop is done; the final round's
    # checkpoint (prev_round_id) stays — it backs the returned frame.
    _unpersist(edges_id)
    return labels.select(F.col("u").alias("doc_id"), F.col("label").alias("cluster_id"))


# --- SimHash ---------------------------------------------------------------


def simhash(
    df: DataFrame, bits: int = 32, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Charikar SimHash over whitespace tokens, md5-parity bit source.

    Bit b of token t = parity of hex digit b of md5(t) (each hex digit
    contributes one parity bit; 32 hex digits ⇒ up to 32-bit simhash).
    Document bit b = sign of Σ_tokens (±1). Fully built-in (explode +
    conditional sum + bit-shift dot), and exactly reproducible in ANSI
    SQL for the oracle.

    Output: (id, simhash as BIGINT). Near-dup = small Hamming distance;
    pair generation at scale goes through band-buckets on bit slices
    (same LSH idea as MinHash).

    WIDE single-pass form: the 32 per-bit ±1 sums are 32 aggregation
    expressions over one scan of the distinct-token relation (a bit-
    position explode would inflate the shuffle 32×), then one map-side
    expression assembles the integer.
    """
    assert bits <= 32
    # in-row distinct (see token_set): removes the cross-row distinct()
    # shuffle — the token relation flows straight into the per-doc sums
    tok = token_set(df, id_col, text_col).withColumn("h", F.md5("token"))
    odd = ("1", "3", "5", "7", "9", "b", "d", "f")
    sums = [
        F.sum(
            F.when(F.substring("h", b, 1).isin(*odd), 1).otherwise(-1)
        ).alias(f"s_{b}")
        for b in range(1, bits + 1)
    ]
    wide = tok.groupBy(id_col).agg(*sums)
    sim = None
    for b in range(1, bits + 1):
        term = F.when(
            F.col(f"s_{b}") > 0, F.lit(1 << (b - 1)).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim + term
    return wide.select(F.col(id_col), sim.cast("long").alias("simhash"))


def simhash_hamming_pairs(
    sig: DataFrame,
    max_hamming: int = 3,
    bits: int = 32,
    n_bands: int = 4,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, band-blocked.

    The scale path for SimHash (Manku et al., WWW 2007 "Detecting
    near-duplicates for web crawling"): split the b-bit signature into
    ``n_bands`` contiguous slices; if two signatures differ in at most
    ``max_hamming`` < n_bands bits, the pigeonhole principle guarantees
    at least one identical slice. So: explode each doc into its band
    values, self-join on (band index, band value) — candidates are only
    the docs sharing a slice bucket, never the O(n²) cross product —
    then verify the exact distance with one XOR+popcount.

    Band value = (simhash >> band*w) mod 2^w via integer div/mod —
    portable to the SQL oracle (no engine-specific bit slicing).
    Output: (id_a, id_b, hamming) with id_a < id_b, distinct.
    """
    assert max_hamming < n_bands, "pigeonhole guarantee needs max_hamming < n_bands"
    width = bits // n_bands

    # Band extraction in pure INTEGER arithmetic (`div`, not `/`):
    # double division is exact only while the signature fits in 53
    # bits — fine at the default bits=32 but silently wrong for 64-bit
    # signatures, and `bits` is caller-settable (ADVICE r2).
    def band_val(side: str, b: int) -> F.Column:
        shifted = F.expr(f"{side}.{sim_col} div {1 << (b * width)}")
        return shifted % (1 << width)

    bands = F.array(
        *[
            F.expr(f"{sim_col} div {1 << (b * width)}") % (1 << width)
            for b in range(n_bands)
        ]
    )
    banded = sig.select(
        F.col(id_col), F.col(sim_col), F.posexplode(bands).alias("band", "band_val")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    # First-match-only emission: a pair sharing k bands would be
    # generated k times; requiring every EARLIER band to differ makes
    # the first shared band the unique emitter, so no distinct() —
    # at 100 TB that removes a full shuffle of the candidate set
    # (measured 6.4M candidate rows for 5k degenerate docs at sf0.1).
    first_match = F.lit(True)
    for k in range(1, n_bands):
        earlier_differ = F.lit(True)
        for j in range(k):
            earlier_differ = earlier_differ & (band_val("a", j) != band_val("b", j))
        first_match = F.when(F.col("a.band") == k, earlier_differ).otherwise(
            first_match
        )
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(first_match)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col(f"a.{sim_col}").bitwiseXOR(F.col(f"b.{sim_col}"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


def tfidf_cosine_pairs(
    df: DataFrame,
    n: int = 3,
    max_df_frac: float = 0.02,
    threshold_fp6: int = 500_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """WEIGHTED set-similarity join: document pairs with TF-IDF cosine
    ≥ threshold — the sparse-vector complement of the Jaccard core
    (set overlap ignores how often a shingle repeats; cosine with
    tf·idf weights is what search-style near-dup and template
    detection actually rank by).

    Exactness discipline (convention #7): per-(doc, term) weights are
    fixed-pointed to BIGINT — ``floor(tf · ln(N/df) · 1000)`` — so
    dot products and squared norms are EXACT integer sums in any
    order; the cosine is one final fixed-order double expression per
    pair, floored to fp6. ``ln`` takes the same double ratio in both
    engines.

    Scale: identical candidate shape to dedup_jaccard_df_capped —
    the df cap bounds Σdf² fan-out, the pair dot-product is one
    grouped self-join on the term key (measured FASTER than the
    pair-explode here; see the note at the join below), and the
    1-row corpus count rides a broadcast. Zero-weight-norm documents
    (all terms at df = N) are excluded (cosine undefined).
    """
    toks = tokens(text_col)
    ngrams = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
        lambda s: F.length(s) > 0,
    )
    terms = (
        df.select(F.col(id_col), F.explode(ngrams).alias("shingle"))
        .groupBy(id_col, "shingle")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    scal = terms.select(id_col).distinct().agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    dfs = terms.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_t"))
    kept = (
        dfs.crossJoin(F.broadcast(scal))
        .filter(
            F.col("df_t")
            <= F.floor(F.lit(max_df_frac) * F.col("n_docs"))
        )
        .select("shingle", "df_t", "n_docs")
    )
    w = terms.join(kept, "shingle").select(
        F.col(id_col),
        "shingle",
        F.floor(
            F.col("tf")
            * F.log(F.col("n_docs").cast("double") / F.col("df_t"))
            * F.lit(1000.0)
        ).cast("long").alias("wt"),
    )
    norms = (
        w.groupBy(id_col)
        .agg(F.sum(F.col("wt") * F.col("wt")).cast("long").alias("norm2"))
        .filter(F.col("norm2") > 0)
    )
    # NB: the a⨯b self-join form is KEPT deliberately. The grouped
    # pair-explode that won for the unweighted Jaccard core
    # (_pair_intersections, 2.8 s → 1.6 s) was tried here in round 8
    # and MEASURED WORSE (2.6 s → 4.5 s at sf0.1): carrying (id, wt)
    # structs through collect_list/array_sort/flatten costs more than
    # the join, whose two identical sides share one ReusedExchange.
    a = w.select(
        F.col("shingle"),
        F.col(id_col).alias("id_a"),
        F.col("wt").alias("wa"),
    )
    b = w.select(
        F.col("shingle"),
        F.col(id_col).alias("id_b"),
        F.col("wt").alias("wb"),
    )
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(F.col("wa") * F.col("wb")).cast("long").alias("dot"),
        )
    )
    na = norms.select(
        F.col(id_col).alias("id_a"), F.col("norm2").alias("na2")
    )
    nb = norms.select(
        F.col(id_col).alias("id_b"), F.col("norm2").alias("nb2")
    )
    cos_fp6 = F.floor(
        F.col("dot").cast("double")
        / (F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double")))
        * F.lit(1e6)
    ).cast("long")
    return (
        pairs.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", "n_common", cos_fp6.alias("cos_fp6"))
        .filter(F.col("cos_fp6") >= F.lit(threshold_fp6))
    )


def content_defined_chunks(
    df: DataFrame,
    window: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-defined chunking (the rolling-hash boundary scheme of
    storage dedup / rsync / FastCDC): a chunk boundary falls after
    position p whenever the hash of the length-``window`` text window
    ending at p starts with hex '0' (expected cut rate 1/16, so ~16-char
    expected chunks at window=8). Because boundaries depend on CONTENT,
    an insertion re-chunks only its neighborhood — unlike fixed-width
    windows where one shifted byte changes every downstream chunk; the
    shared-chunk rate across a corpus is therefore a shift-robust
    duplication signal and the basis of dedup storage estimates.

    All boundary detection, chunk slicing and chunk hashing happen
    IN-ROW (sequence → filter → zip_with → md5 per slice, whole-stage
    codegen); the relation leaves the row only as (id, clen, chash)
    explode — same zero-pre-shuffle contract as the other set relations
    in this module. md5 keeps it oracle-portable.

    Returns (id_col, clen, chash), one row per chunk occurrence."""
    txt = F.col(text_col)
    n = F.length(txt)
    # boundary candidates p in [window, n-1] (a cut AT the end would
    # create an empty trailing chunk); sequence() reverses when
    # start > stop, so guard short docs to an empty array
    pos = F.when(
        n > window, F.sequence(F.lit(window), n - 1)
    ).otherwise(F.array().cast("array<int>"))
    cuts = F.filter(
        pos,
        lambda p: F.substring(
            F.md5(F.substr(txt, p - (window - 1), F.lit(window))), 1, 1
        )
        == "0",
    )
    starts = F.concat(
        F.array(F.lit(1)), F.transform(cuts, lambda p: p + 1)
    )
    ends = F.concat(F.transform(cuts, lambda p: p), F.array(n))
    chunks = F.zip_with(
        starts,
        ends,
        lambda s, e: F.struct(
            (e - s + 1).alias("clen"),
            F.md5(F.substr(txt, s, e - s + 1)).alias("chash"),
        ),
    )
    return df.select(
        F.col(id_col), F.explode(chunks).alias("_c")
    ).select(id_col, F.col("_c.clen").cast("long").alias("clen"), "_c.chash")


def ppjoin_pairs(
    items: DataFrame,
    id_col: str = "doc_id",
    item_col: str = "shingle",
    t_num: int = 3,
    t_den: int = 5,
    assume_distinct: bool = True,
) -> DataFrame:
    """Set-similarity self-join with PREFIX FILTERING (the
    AllPairs/PPJoin family — Chaudhuri et al. 2006, Xiao et al. 2008):
    all unordered pairs whose set Jaccard ≥ t_num/t_den, generated by
    joining only on each set's PREFIX — its ``|x| − ceil(t·|x|) + 1``
    rarest items under a global (document-frequency, item) total
    order — then verified exactly inside the candidate set.

    PRECONDITION (ADVICE r12): input (id, item) rows must be DISTINCT
    per document — set semantics. Since the r12 first-shared-prefix
    emission removed the candidate ``distinct()``, a duplicated item
    occupies two positions in the sorted order (breaking the unique-
    emitter invariant) and multiplies ``n_common`` in the verify
    count. The registered caller feeds ``array_distinct``-built
    shingles, so the default ``assume_distinct=True`` keeps its plan
    shuffle-free; pass ``assume_distinct=False`` for inputs that may
    carry duplicates — one extra (id, item) dropDuplicates shuffle
    restores set semantics.

    The prefix principle is LOSSLESS (pinned by a hypothesis property
    test against the brute-force quadratic): if J(X,Y) ≥ t and the
    prefixes were disjoint, the intersection would fit inside the
    ⌈t|X|⌉−1 non-prefix items of X — fewer than the ⌈t|X|⌉ shared
    items the threshold forces, a contradiction. At scale the prefix
    join's candidate volume drops by exactly the frequency of the
    commonest items — the keys that explode a join on ALL items.

    Spark-first construction: the global order needs NO global rank —
    each set array_sorts its own (df, item) structs and slices its
    prefix locally; ceil(t·s) is exact integer math
    ``(t_num·s + t_den − 1) div t_den``; the threshold test
    cross-multiplies so no float touches the result.

    FIRST-SHARED-PREFIX-TOKEN emission (r12, VERDICT r11 ask #4): a
    pair sharing k prefix tokens used to be generated k times and
    collapsed by a full candidate ``distinct()`` shuffle — the
    heaviest step of the heaviest roster query. Each prefix row now
    carries its doc's whole (bounded, ≈(1−t)·|x|+1-element) prefix
    array plus the token's 1-based position in the sorted set, and a
    joined row survives only when NO earlier slice of the two
    prefixes overlaps. The global (df, item) order is consistent
    across docs, so any shared token earlier in that order sits
    earlier in BOTH prefixes — the first shared token is the unique
    emitter, exactly the SimHash first-shared-band trick. Carried
    positions also enable PPJoin's POSITIONAL filter for free: at the
    first shared token the total overlap is ≤ 1 + min(|x|−i, |y|−j),
    so pairs that can't reach the ceil(t·(|x|+|y|)/(1+t)) overlap
    floor die before the verify join (lossless — earlier shared
    tokens can't exist by first-match, pinned by the hypothesis
    property test vs the brute-force quadratic)."""
    tok = items.select(
        F.col(id_col).alias("_id"), F.col(item_col).alias("_w")
    )
    if not assume_distinct:
        tok = tok.dropDuplicates(["_id", "_w"])
    dfreq = tok.groupBy("_w").agg(F.count(F.lit(1)).alias("_df"))
    per_doc = (
        tok.join(dfreq, "_w")
        .groupBy("_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_df"), F.col("_w")))
            ).alias("_ord"),
            F.count(F.lit(1)).alias("_size"),
        )
    )
    plen = (
        F.col("_size")
        - F.expr(f"({t_num} * _size + {t_den - 1}) div {t_den}")
        + F.lit(1)
    ).cast("int")
    prefix = per_doc.select(
        "_id",
        "_size",
        F.slice(F.col("_ord"), F.lit(1), plen).alias("_pre"),
    ).select(
        "_id",
        "_size",
        "_pre",
        F.posexplode(F.col("_pre")).alias("_i", "_p"),
    ).select(
        "_id",
        "_size",
        "_pre",
        (F.col("_i") + 1).alias("_pos"),  # 1-based position in _ord
        F.col("_p")["_w"].alias("_w"),
    )
    a = prefix.select(
        F.col("_id").alias("id_a"),
        F.col("_size").alias("size_a"),
        F.col("_pre").alias("_pre_a"),
        F.col("_pos").alias("_pos_a"),
        "_w",
    )
    b = prefix.select(
        F.col("_id").alias("id_b"),
        F.col("_size").alias("size_b"),
        F.col("_pre").alias("_pre_b"),
        F.col("_pos").alias("_pos_b"),
        "_w",
    )
    first_shared = ~F.arrays_overlap(
        F.slice(F.col("_pre_a"), F.lit(1), F.col("_pos_a") - 1),
        F.slice(F.col("_pre_b"), F.lit(1), F.col("_pos_b") - 1),
    )
    # overlap floor α = ceil(t·(|x|+|y|)/(1+t)), exact integer ceil-div
    alpha = F.expr(
        f"({t_num} * (size_a + size_b) + {t_num + t_den} - 1)"
        f" div {t_num + t_den}"
    )
    positional_ok = (
        F.lit(1)
        + F.least(
            F.col("size_a") - F.col("_pos_a"),
            F.col("size_b") - F.col("_pos_b"),
        )
    ) >= alpha
    cands = (
        a.join(b, "_w")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(first_shared & positional_ok)
        .select("id_a", "id_b", "size_a", "size_b")
    )
    ta = tok.select(F.col("_id").alias("id_a"), "_w")
    tb = tok.select(F.col("_id").alias("id_b"), "_w")
    verified = (
        cands.join(ta, "id_a")
        .join(tb, ["id_b", "_w"])
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    union_sz = F.col("size_a") + F.col("size_b") - F.col("n_common")
    return verified.filter(
        F.lit(t_den) * F.col("n_common") >= F.lit(t_num) * union_sz
    ).select(
        "id_a",
        "id_b",
        "n_common",
        F.col("size_a").cast("long").alias("size_a"),
        F.col("size_b").cast("long").alias("size_b"),
        F.expr(
            "CAST(n_common * 1000 div (size_a + size_b - n_common)"
            " AS BIGINT)"
        ).alias("jaccard_milli"),
    )
