"""Similarity search over embedding columns (north-star extension).

Brute-force cosine top-k (``cosine_topk_rel``) is the correctness
baseline; signed-random-projection LSH bucketing (``lsh_bucket``) and
the IVF coarse quantizer (``ivf_topk_rel``) are the scale paths
(restrict candidates to a bucket or cell before the exact re-rank —
the classic Charikar construction for LSH).

Determinism design (oracle-portable):
- all dot products fold left-to-right in DOUBLE (Spark ``F.aggregate``
  over ``zip_with``; DuckDB ``list_sum(list_transform(list_zip(...)))``)
  so both engines produce bit-identical floats;
- LSH hyperplanes are Rademacher (±1) vectors derived from md5 parity
  of (plane, dim) — reproducible in any engine with md5, no RNG state.

Scale: brute-force is O(n) per query with a full scan — fine for one
query vector, wrong for n×n. The LSH path buckets once (one narrow
shuffle on bucket id), then joins within buckets. At 100 TB the bucket
table is written partitioned by bucket so probes prune partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._ck import unpersist_ck
from ._overlap import overlap


def _dot(a, b):
    """Left-fold double dot product — deterministic summation order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _idot(a, b):
    """Exact LONG dot product of integer arrays (int8 codes: ≤127²·dim,
    far inside 2^53, so a double cast of it is lossless)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def rademacher_component_col(plane_col, dim_col) -> F.Column:
    """±1 pseudo-random component for (plane, dim), via md5 hex parity
    — an engine-portable replacement for a seeded Gaussian. Integer
    columns render through concat_ws exactly like integer literals, so
    the md5 strings (and the ±1 parities every SQL oracle re-derives)
    are identical."""
    h = F.md5(F.concat_ws(":", plane_col, dim_col))
    return F.when(
        F.substring(h, 1, 1).isin("1", "3", "5", "7", "9", "b", "d", "f"),
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))


def lsh_bucket(
    df: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Assign each vector an LSH bucket id from the signs of ``n_planes``
    signed random projections. bucket ∈ [0, 2^n_planes).

    Entirely map-side (no data shuffle): the projection is an array fold
    per plane. Vectors in the same bucket are cosine-similar with the
    usual hyperplane-LSH probability; multi-probe = also search
    neighboring buckets (Hamming-1 bucket ids).

    The ±1 plane components are md5-parity pseudo-randoms — the
    engine-portable seeded-Gaussian replacement (rademacher_component_col)
    — but they are CONSTANT per (plane, dim): deriving them inside the
    per-row fold re-evaluated n_planes·dim md5 calls on EVERY row
    (measured 9.7 s for 12 planes over 2,000 rows — the md5s, not the
    arithmetic, were the whole cost). They now come from one
    ``range(n_planes·dim)`` relation collapsed to a single broadcast
    row of per-plane component arrays, so each data row pays only the
    zip_with·fold arithmetic. Same md5 strings, same ±1 values — bucket
    ids (and every oracle that re-derives them in SQL) are unchanged.
    ``dim`` is the component-table width; vectors longer than ``dim``
    raise at fold time rather than hashing with missing planes.
    """
    spark = df.sparkSession
    comp = spark.range(n_planes * dim).select(
        (F.col("id") / dim).cast("int").alias("_p"),
        F.pmod(F.col("id"), F.lit(dim)).cast("int").alias("_d"),
    ).select(
        "_p", "_d", rademacher_component_col(F.col("_p"), F.col("_d")).alias("_c")
    )
    per_plane = comp.groupBy("_p").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_d", "_c"))),
            lambda s: s["_c"],
        ).alias("_arr")
    )
    packed = per_plane.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_p", "_arr"))),
            lambda s: s["_arr"],
        ).alias("_planes")
    )
    v = F.col(vec_col)
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(
                v,
                F.slice(F.element_at(F.col("_planes"), p + 1), 1, F.size(v)),
                lambda x, c: x.cast("double") * c,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    # Enforce the documented over-width contract LOUDLY: slice() caps at
    # the component-array length and zip_with null-pads the remainder,
    # so without this guard a vector longer than ``dim`` would project
    # NULL on every plane (NULL > 0 is false) and silently land in
    # bucket 0 — degenerate quadratic blocking AND divergence from the
    # SQL oracles, which sum only the first ``dim`` components.
    bucket = F.when(F.size(v) <= F.lit(dim), bucket).otherwise(
        F.raise_error(
            F.format_string(
                "lsh_bucket: vector width %s exceeds component-table "
                "dim %s — rebuild with a larger dim",
                F.size(v).cast("string"), F.lit(str(dim)),
            )
        ).cast("long")
    )
    return df.crossJoin(F.broadcast(packed)).select(
        F.col(id_col), F.col(vec_col), bucket.alias("bucket")
    )


def cosine_pairs_blocked(
    df: DataFrame,
    block_col: str = "label",
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-similarity pair generation with coarse blocking —
    the embedding-space analogue of near-dup candidate generation.

    Pairs are formed ONLY within a block (here the coarse-quantizer
    cell / ``label``), turning the O(n²) all-pairs cross join into a
    per-block self-join: one shuffle on the block key, quadratic only
    in the cell size. At 100 TB the block key comes from an IVF coarse
    quantizer (see :func:`ivf_topk_rel`) so cells stay bounded; skewed
    cells get salted sub-blocks.

    Exact cosine (left-fold double dot product) is the residual filter,
    so within a block results equal brute force — the blocking bound is
    the only approximation, exactly like length-band fuzzy matching.
    """
    # norms are per-VECTOR, so compute them once before the pair join —
    # per-pair recomputation costs two extra 64-dim folds on every pair
    # (measured ~2× wall time on the sf0.1 pair set). Same fold, same
    # floats, so the oracle (which spells norms per pair) still matches.
    # Zero-norm vectors are dropped BEFORE pairing: 0/0 = NaN, and NaN
    # sorts above every number in Spark, so a degenerate all-zero
    # embedding would otherwise pass the threshold filter.
    v = F.col(vec_col)
    with_n = df.select(
        F.col(block_col).alias("block"),
        F.col(id_col),
        v.alias("emb"),
        F.sqrt(_dot(v, v)).alias("norm"),
    ).filter(F.col("norm") > 0)
    a = with_n.select(
        "block",
        F.col(id_col).alias("vec_a"),
        F.col("emb").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    b = with_n.select(
        "block",
        F.col(id_col).alias("vec_b"),
        F.col("emb").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    cos = _dot(F.col("emb_a"), F.col("emb_b")) / (F.col("norm_a") * F.col("norm_b"))
    return (
        a.join(b, on="block")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("block", "vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


NANO = 1_000_000_000


def label_centroids_nano(
    df: DataFrame,
    block_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cell centroid components in fixed-point (the IVF coarse
    codebook). Components are quantized to nano units BEFORE the sum so
    the cross-row aggregation is exact integer math (summation-order-
    free ⇒ oracle-portable); the centroid itself is
    ``sum_nano / cnt / 1e9`` evaluated identically on both engines.

    One posexplode (row → dim rows) + one shuffle on (cell, dim); the
    result is tiny (cells × dims) and broadcastable everywhere.
    """
    exploded = df.select(
        F.col(block_col).alias("block"),
        F.posexplode(vec_col).alias("dim", "comp"),
    )
    return exploded.groupBy("block", "dim").agg(
        F.sum(F.floor(F.col("comp").cast("double") * NANO).cast("long")).alias(
            "sum_nano"
        ),
        F.count(F.lit(1)).alias("cnt"),
    )


def quantize_embeddings(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric int8 scalar quantization: codes = floor(v / scale *
    127) with per-vector max-abs scale — the 4× storage/bandwidth cut
    every large ANN index takes before distance computation.

    Map-side only; exact IEEE ops (float32→double widening, divide,
    multiply, floor) so codes are bit-identical across engines.
    All-zero vectors quantize to all-zero codes (scale 0 guarded).

    Two-stage select: ``scale`` is materialized as a column BEFORE the
    code transform references it. Referencing the array_max expression
    directly inside the lambda would re-inline it per element (O(d²)
    per vector — same Catalyst re-inlining that made the in-row
    repetition fold 13× slower, see BASELINE.md).
    """
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    staged = df.select(
        F.col(id_col),
        vd.alias("_vd"),
        F.array_max(F.transform(vd, F.abs)).alias("scale"),
        F.size(F.col(vec_col)).alias("dim"),
    )
    scale = F.col("scale")
    codes = F.when(scale == 0, F.transform(F.col("_vd"), lambda x: F.lit(0))).otherwise(
        F.transform(F.col("_vd"), lambda x: F.floor(x / scale * 127).cast("int"))
    )
    return staged.select(id_col, "scale", codes.alias("codes"), "dim")


def hard_negatives(
    df: DataFrame,
    anchors: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the k nearest vectors of a DIFFERENT label by cosine — the
    near-miss examples that teach a metric model its decision
    boundary. The anchor set broadcasts (it is a bounded sample by
    contract — mining with a corpus-sized anchor set is an ANN-join
    problem, see ivf_topk_rel); scoring is map-side left-fold dot
    products (bit-identical cross-engine), and the top-k runs per
    anchor with a deterministic id tiebreak."""
    from pyspark.sql import Window

    a = anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("qv"),
        F.col(label_col).alias("anchor_label"),
    )
    v = F.col(vec_col)
    q = F.col("qv")
    cos = _dot(v, q) / (F.sqrt(_dot(v, v)) * F.sqrt(_dot(q, q)))
    scored = (
        df.crossJoin(F.broadcast(a))
        .filter(F.col(label_col) != F.col("anchor_label"))
        .select("anchor_id", F.col(id_col), cos.alias("cosine"))
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("anchor_id", id_col, "cosine")
    )


# ---------------------------------------------------------------------
# Relation-form codebooks: the coarse quantizer is a DataFrame, never a
# driver-collected Python literal. Training is one Lloyd
# refinement seeded from the k lowest-id vectors — exact fixed-point
# centroid means (nano-quantized integer sums ⇒ summation-order-free ⇒
# oracle-portable doubles), exact integer distances, deterministic
# tiebreaks. Consumers collapse the k-row codebook to a single nested
# row and broadcast it, so assignment stays entirely map-side with
# ZERO driver collects on the query path — at 100 TB the codebook is a
# (re)trained table, not something the driver can hold in a Python
# list. Wired into the registered queries in round 7: the PQ family
# and semdedup_verdicts train via ``train_codebook``; the query-vector
# consumers (embedding_cosine_topk, ivf_topk, the recall reports) use
# the ``*_rel`` variants with a 1-row query relation.
# ---------------------------------------------------------------------


def _l2_nano(a, b) -> F.Column:
    """floor(1e9 · Σ(a−b)²) with a left-to-right double fold — the
    single-floor distance convention shared with l2_topk_rel and the
    DuckDB ``list_sum(list_transform(...))`` twin."""
    return F.floor(
        F.aggregate(
            F.zip_with(
                a, b,
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        * NANO
    ).cast("long")


def train_codebook(
    df: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd step from the ``k`` lowest-id vectors → a trained
    coarse codebook relation ``(c int, centroid array<double>)``.

    Seeding is the ACTUAL k lowest ids (``orderBy(id).limit(k)``, then
    rank within the k-row slice as the centroid id c ∈ 0..k-1) — not a
    ``id < k`` filter — so gapped or non-zero-based id spaces still
    yield exactly k contiguous cells (consumers index the collapsed
    codebook positionally; see pq_adc_topk_rel's size guard).

    Plan shape: the k-row init collapses to ONE nested row and
    broadcasts, so assignment is map-side (no shuffle of the corpus);
    the update is one posexplode + (c, dim) integer aggregation (k·d
    result rows); an empty cell (its seed was an exact duplicate of a
    lower-id seed) falls back to the seed itself, quantized through
    the same mean formula with n=1 — so every centroid is defined and
    deterministic. Iterating = calling this on top of the previous
    codebook's assignment; one step is what the oracle unrolls.
    """
    v = F.col(vec_col)
    # TakeOrdered(k) + posexplode of the id-sorted pack: rank-as-c
    # without a global row_number window.
    packed = (
        df.orderBy(F.col(id_col))
        .limit(k)
        .select(F.col(id_col).alias("_sid"), v.alias("cv"))
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("_sid", "cv"))).alias("_sv"))
    )
    init = packed.select(F.posexplode("_sv").alias("c", "_s")).select(
        F.col("c").cast("int").alias("c"), F.col("_s.cv").alias("cv")
    )
    init1 = init.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("c", "cv"))).alias("_cb0")
    )
    staged = df.crossJoin(F.broadcast(init1)).select(
        F.col(id_col), v.alias("_v"), F.col("_cb0")
    )
    best = F.array_min(
        F.transform(
            F.col("_cb0"),
            lambda s: F.struct(
                _l2_nano(F.col("_v"), s["cv"]).alias("d"), s["c"].alias("c")
            ),
        )
    )
    assigned = staged.select(
        F.col("_v"), best.getField("c").alias("c")
    )
    sums = (
        assigned.select("c", F.posexplode("_v").alias("dim", "comp"))
        .groupBy("c", "dim")
        .agg(
            F.sum(
                F.floor(F.col("comp").cast("double") * NANO).cast("long")
            ).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    grid = init.select("c", F.posexplode("cv").alias("dim", "icomp"))
    comp = grid.join(sums, ["c", "dim"], "left").select(
        "c",
        "dim",
        F.coalesce(
            F.col("s").cast("double") / F.col("n") / F.lit(NANO),
            F.floor(F.col("icomp").cast("double") * NANO)
            .cast("long")
            .cast("double")
            / F.lit(NANO),
        ).alias("comp"),
    )
    return (
        comp.groupBy("c")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "comp"))),
                lambda s: s["comp"],
            ).alias("centroid")
        )
    )


def _collapse_codebook(codebook: DataFrame) -> DataFrame:
    """k-row codebook → ONE row with a c-sorted array of (c, centroid)
    structs: the broadcastable form every map-side consumer wants.

    Deliberately NOT staged (measured negative, r12): consumers that
    reference this from both arms of a pair self-join re-derive the
    codebook subtree per reference (rescan audit: 12 embeddings scans
    in semdedup_verdicts' plan), but BOTH staging forms measured
    slower at sf0.1 — eager localCheckpoint added a scheduled job per
    collapse (ivfpq 2.79→3.84 s) and lazy persist's cache
    materialization broke whole-stage pipelining (semdedup
    2.12→3.11 s). The re-derived subtree is TakeOrdered(k) + one
    aggregation — cheap next to the corpus-sized assignment passes at
    every scale, and at 100 TB codebook training would be a separate
    staged artifact anyway."""
    return codebook.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("c", "centroid"))).alias("_cb")
    )


def pq_codes_rel(
    df: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product quantization (Jégou et al. 2011): split each vector into
    ``m`` subvectors and store only the id of the nearest codebook
    centroid per subspace (m log₂k bits per vector instead of 4·d
    bytes). Centroid c of subspace j is the j-th slice of codebook row
    c. The collapsed codebook broadcasts as one nested row and the
    per-subspace argmin runs map-side over array slices: exact nano
    fixed-point distances, ties to the smaller centroid id, zero
    collects. Output: one row per vector with int codes c0..c{m-1}."""
    sub = dim // m
    cb1 = _collapse_codebook(codebook)
    staged = df.crossJoin(F.broadcast(cb1)).select(
        F.col(id_col), F.col(vec_col).alias("_v"), "_cb"
    )
    out = [F.col(id_col)]
    for j in range(m):
        a = F.slice(F.col("_v"), j * sub + 1, sub)
        cands = F.transform(
            F.col("_cb"),
            lambda s: F.struct(
                _l2_nano(a, F.slice(s["centroid"], j * sub + 1, sub)).alias("d"),
                s["c"].alias("c"),
            ),
        )
        out.append(F.array_min(cands).getField("c").cast("int").alias(f"c{j}"))
    return staged.select(*out)


def pq_adc_topk_rel(
    df: DataFrame,
    codebook: DataFrame,
    qdf: DataFrame,
    k: int = 10,
    m: int = 8,
    dim: int = 64,
    n_centroids: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric distance computation over PQ codes, with codebook
    AND query as relations: the query stays full-precision, each
    database vector is its m codes, and the approximate distance is
    the sum of per-subspace lookups dist(q_sub_j, centroid[code_j]) —
    m integer adds per vector instead of d float ops. The m×k
    distance table is computed in-plan on the broadcast side (codebook
    ⨯ 1-row query — k rows), collapsed to one lookup array indexed by
    sub·k + code, and the ADC sum is m exact integer adds per data row
    via element_at. No shuffle on the corpus until TakeOrdered(k)."""
    sub = dim // m
    q1 = qdf.select(F.col(vec_col).alias("_qv"))
    cbq = codebook.crossJoin(F.broadcast(q1))
    per_j = [
        F.struct(
            F.lit(j).alias("sub"),
            _l2_nano(
                F.slice(F.col("_qv"), j * sub + 1, sub),
                F.slice(F.col("centroid"), j * sub + 1, sub),
            ).alias("d"),
        )
        for j in range(m)
    ]
    cells = cbq.select(
        "c", F.explode(F.array(*per_j)).alias("cell")
    ).select("c", F.col("cell.sub").alias("sub"), F.col("cell.d").alias("d"))
    tbl0 = cells.groupBy().agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (F.col("sub") * n_centroids + F.col("c")).alias("idx"),
                        F.col("d"),
                    )
                )
            ),
            lambda s: s["d"],
        ).alias("_tbl"),
        F.count_distinct("c").alias("_ncells"),
        F.min("c").alias("_cmin"),
        F.max("c").alias("_cmax"),
    )
    # element_at below indexes positionally, so the codebook MUST have
    # exactly n_centroids contiguous cells 0..n_centroids-1 — a gapped
    # or short codebook would silently shift every lookup. assert_true
    # raises at runtime instead; the when() keeps the assert un-pruned.
    tbl_ok = (
        (F.size(F.col("_tbl")) == m * n_centroids)
        & (F.col("_ncells") == n_centroids)
        & (F.col("_cmin") == 0)
        & (F.col("_cmax") == n_centroids - 1)
    )
    tbl1 = tbl0.select(
        F.when(
            F.assert_true(
                tbl_ok,
                F.lit(
                    f"pq_adc_topk_rel: codebook must collapse to "
                    f"{m * n_centroids} table cells from {n_centroids} "
                    f"contiguous centroid ids"
                ),
            ).isNull(),
            F.col("_tbl"),
        ).alias("_tbl")
    )
    codes = pq_codes_rel(df, codebook, m, dim, id_col, vec_col)
    adc = F.lit(0).cast("long")
    for j in range(m):
        adc = adc + F.element_at(
            F.col("_tbl"), F.lit(j * n_centroids) + F.col(f"c{j}") + 1
        )
    return (
        codes.crossJoin(F.broadcast(tbl1))
        .select(F.col(id_col), adc.alias("adc_dist_nano"))
        .orderBy(F.col("adc_dist_nano"), F.col(id_col))
        .limit(k)
    )


def l2_topk_rel(
    df: DataFrame,
    qdf: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact L2 top-k in nano fixed point against a 1-row broadcast
    query relation — the ground truth the PQ/ADC recall report compares
    against (same metric, full precision). The squared distance folds
    left-to-right in double before the single floor, so both engines
    agree bit-for-bit."""
    q1 = qdf.select(F.col(vec_col).alias("_qv"))
    return (
        df.crossJoin(F.broadcast(q1))
        .select(
            F.col(id_col),
            _l2_nano(F.col(vec_col), F.col("_qv")).alias("dist_nano"),
        )
        .orderBy(F.col("dist_nano"), F.col(id_col))
        .limit(k)
    )


def cosine_topk_rel(
    df: DataFrame,
    qdf: DataFrame,
    k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k against a 1-row broadcast query
    relation: one scan, no shuffle until the final TakeOrdered(k). The
    query norm is computed ONCE on the broadcast side (constant per
    query — the ann_int8_topk lesson).

    Zero-norm rows are excluded on BOTH sides: 0/0 cosine is NaN, and
    NaN sorts above every double, so an all-zero corpus vector would
    otherwise claim rank 1 (and an all-zero query would poison every
    rank). This matches the oracles' ``WHERE norm > 0`` base relation;
    the current testdata has no zero vectors, so results are unchanged
    there. The limit pins the documented 1-row query contract."""
    q1 = (
        qdf.select(F.col(vec_col).alias("_qv"))
        .select("_qv", F.sqrt(_dot(F.col("_qv"), F.col("_qv"))).alias("_qn"))
        .filter(F.col("_qn") > 0)
        .limit(1)
    )
    v = F.col(vec_col)
    cos = _dot(v, F.col("_qv")) / (F.sqrt(_dot(v, v)) * F.col("_qn"))
    return (
        df.crossJoin(F.broadcast(q1))
        .filter(F.sqrt(_dot(v, v)) > 0)
        .select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def _probe_blocks(
    df: DataFrame,
    qdf: DataFrame,
    nprobe: int,
    block_col: str,
    vec_col: str,
) -> DataFrame:
    """IVF coarse phase: rank blocks by nano fixed-point L2 between the
    (1-row broadcast) query and each block's nano-exact centroid; keep
    the nprobe nearest. Returns a ``block`` relation — broadcast-sized,
    so the candidate semi-join never shuffles the corpus."""
    q1 = qdf.select(F.col(vec_col).alias("_qv"))
    cents = label_centroids_nano(df, block_col, vec_col)
    comp = F.col("sum_nano").cast("double") / F.col("cnt") / NANO
    qcomp = F.element_at(F.col("_qv"), F.col("dim") + 1).cast("double")
    diff = qcomp - comp
    dist = (
        cents.crossJoin(F.broadcast(q1))
        .select(
            "block",
            F.floor(diff * diff * NANO).cast("long").alias("term_nano"),
        )
        .groupBy("block")
        .agg(F.sum("term_nano").alias("dist_nano"))
    )
    return (
        dist.orderBy(F.col("dist_nano"), F.col("block"))
        .limit(nprobe)
        .select("block")
    )


def ivf_topk_rel(
    df: DataFrame,
    qdf: DataFrame,
    k: int = 15,
    nprobe: int = 3,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN against a 1-row broadcast query relation: rank
    coarse-quantizer cells by fixed-point centroid distance to the
    query, probe the ``nprobe`` nearest, exact cosine top-k inside them
    (zero-norm vectors excluded, ``(cosine DESC, id)`` tiebreak).

    At rest the corpus is partitioned by cell id, so a probe touches
    nprobe/cells of the data and partition pruning skips the rest.
    Centroid sums and distances are fixed point, so the whole ANN
    pipeline is oracle-checkable; no driver fetch of the query vector."""
    probed = _probe_blocks(df, qdf, nprobe, block_col, vec_col)
    qn = qdf.select(F.col(vec_col).alias("_qv")).select(
        "_qv", F.sqrt(_dot(F.col("_qv"), F.col("_qv"))).alias("_qn")
    )
    v = F.col(vec_col)
    norm = F.sqrt(_dot(v, v))
    cos = _dot(v, F.col("_qv")) / (norm * F.col("_qn"))
    cand = df.join(
        F.broadcast(probed), df[block_col] == F.col("block"), "left_semi"
    )
    return (
        cand.filter(norm > 0)
        .crossJoin(F.broadcast(qn))
        .select(F.col(id_col), F.col(block_col), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_sweep_topk_rel(
    df: DataFrame,
    qdf: DataFrame,
    k: int = 15,
    max_nprobe: int = 4,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Every IVF arm of an nprobe ∈ {1..max_nprobe} sweep in ONE pass —
    the shared-work shape of ivf_nprobe_recall_sweep (round-10 perf
    fix: 4 independent ivf_topk_rel arms each re-aggregated the
    centroids and re-scanned the corpus; probe sets at increasing
    nprobe are PREFIXES of one ranked block list, so all arms derive
    from a single scored candidate relation — the same sharing
    lsh_band_sweep does for minhash signatures).

    Plan shape: one centroid aggregation (label_centroids_nano), one
    corpus scan joined to the broadcast max_nprobe probed blocks WITH
    their rank, one cosine projection, then each candidate explodes to
    the arms whose probe set contains its block
    (sequence(block_rank..max_nprobe) — ≤ max_nprobe small rows) and a
    per-arm window takes top-k. The window partitions by nprobe over
    candidates of ≤ max_nprobe blocks — bounded by the probe budget,
    never the corpus. Results are row-identical to running ivf_topk_rel
    per arm (same exact fixed-point block ranking, same cosine, same
    (cosine DESC, id) tiebreak).

    Returns ``(nprobe, id_col, cosine)`` — top-k per arm."""
    from pyspark.sql import Window

    q1 = qdf.select(F.col(vec_col).alias("_qv"))
    cents = label_centroids_nano(df, block_col, vec_col)
    comp = F.col("sum_nano").cast("double") / F.col("cnt") / NANO
    qcomp = F.element_at(F.col("_qv"), F.col("dim") + 1).cast("double")
    diff = qcomp - comp
    dist = (
        cents.crossJoin(F.broadcast(q1))
        .select(
            "block",
            F.floor(diff * diff * NANO).cast("long").alias("term_nano"),
        )
        .groupBy("block")
        .agg(F.sum("term_nano").alias("dist_nano"))
    )
    # rank over the block relation (cells, not corpus — tiny)
    wb = Window.orderBy(F.col("dist_nano"), F.col("block"))
    blocks = (
        dist.select("block", F.row_number().over(wb).alias("block_rank"))
        .filter(F.col("block_rank") <= max_nprobe)
    )
    qn = qdf.select(F.col(vec_col).alias("_qv")).select(
        "_qv", F.sqrt(_dot(F.col("_qv"), F.col("_qv"))).alias("_qn")
    )
    v = F.col(vec_col)
    norm = F.sqrt(_dot(v, v))
    cos = _dot(v, F.col("_qv")) / (norm * F.col("_qn"))
    scored = (
        df.join(F.broadcast(blocks), df[block_col] == F.col("block"))
        .filter(norm > 0)
        .crossJoin(F.broadcast(qn))
        .select(F.col(id_col), F.col("block_rank"), cos.alias("cosine"))
    )
    arms = scored.select(
        F.col(id_col),
        "cosine",
        F.explode(
            F.sequence(F.col("block_rank").cast("long"),
                       F.lit(max_nprobe).cast("long"))
        ).alias("nprobe"),
    )
    wn = Window.partitionBy("nprobe").orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    return (
        arms.select(
            "nprobe", id_col, "cosine",
            F.row_number().over(wn).alias("_rn"),
        )
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def semdedup_rel(
    df: DataFrame,
    codebook: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): assign every vector to its
    nearest coarse centroid, then form exact cosine pairs ONLY within a
    cluster, so the all-pairs O(n²) collapses to per-cluster blocks.
    Within a cluster, a vector with a ≥``threshold`` cosine neighbour
    of smaller id is flagged a duplicate (keep-lowest-id).

    The codebook is a ``(c, centroid)`` relation: zero-norm centroids
    are filtered out (cosine to them is undefined, so no vector is
    assigned to them), the collapsed codebook broadcasts, and
    assignment is map-side argmax cosine with smaller-centroid
    tiebreak. Returns ``(id, cluster, is_dup)`` per non-zero vector;
    zero-norm vectors are dropped."""
    cbn = codebook.filter(
        F.aggregate(
            F.transform(F.col("centroid"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        > 0
    )
    cb1 = _collapse_codebook(cbn)
    v = F.col(vec_col)
    staged = (
        df.crossJoin(F.broadcast(cb1))
        .select(
            F.col(id_col),
            v.alias("_v"),
            F.sqrt(_dot(v, v)).alias("_norm"),
            "_cb",
        )
        .filter(F.col("_norm") > 0)
    )
    choice = F.array_max(
        F.transform(
            F.col("_cb"),
            lambda s: F.struct(
                (
                    _dot(F.col("_v"), s["centroid"])
                    / (
                        F.col("_norm")
                        * F.sqrt(_dot(s["centroid"], s["centroid"]))
                    )
                ).alias("cs"),
                (-s["c"]).alias("ns"),
                s["c"].alias("sid"),
            ),
        )
    )
    assigned = staged.select(
        F.col(id_col), F.col("_v").alias(vec_col), choice.getField("sid").alias("cluster")
    )
    pairs = cosine_pairs_blocked(
        assigned,
        block_col="cluster",
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
    )
    dups = (
        pairs.select(F.col("vec_b").alias(id_col))
        .distinct()
        .withColumn("_is_dup", F.lit(True))
    )
    return assigned.join(dups, id_col, "left").select(
        F.col(id_col),
        F.col("cluster"),
        F.coalesce(F.col("_is_dup"), F.lit(False)).alias("is_dup"),
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 20,
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked candidate lists — the
    standard way to combine a lexical (BM25) and a vector (cosine)
    retrieval arm without score calibration: each arm contributes
    ``1 / (rrf_k + rank)`` and documents are re-ranked by the sum
    (Cormack et al., SIGIR 2009). Inputs are ``(id_col, rank_col)``
    relations with ranks starting at 1; a document missing from one
    arm simply contributes 0 from it.

    Scores are fixed-point: ``floor(1e9 / (rrf_k + rank))`` per arm,
    summed as integers, so both engines produce bit-identical fusion
    keys (the registry's float convention).

    Scale shape: the fused join runs over the arms' top-N candidate
    relations (already small by construction — each arm's top-N is the
    expensive distributed part and happens UPSTREAM), so fusion itself
    is a broadcast-sized full-outer join + limit. No window over the
    corpus, no driver collect.
    """

    def fp(col: str) -> F.Column:
        return F.when(
            F.col(col).isNotNull(),
            F.floor(F.lit(1e9) / (F.lit(rrf_k) + F.col(col))).cast("long"),
        ).otherwise(F.lit(0).cast("long"))

    a = ranked_a.select(F.col(id_col), F.col(rank_col).alias("_ra"))
    b = ranked_b.select(F.col(id_col), F.col(rank_col).alias("_rb"))
    fused = (
        a.join(b, id_col, "full_outer")
        .select(
            F.col(id_col),
            F.col("_ra").alias("rank_a"),
            F.col("_rb").alias("rank_b"),
            (fp("_ra") + fp("_rb")).alias("rrf_fp9"),
        )
    )
    return fused.orderBy(F.col("rrf_fp9").desc(), F.col(id_col)).limit(k)


def ivfpq_topk_rel(
    df: DataFrame,
    codebook: DataFrame,
    qdf: DataFrame,
    k: int = 10,
    nprobe: int = 3,
    m: int = 8,
    dim: int = 64,
    n_centroids: int = 4,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ composite ANN — the FAISS IndexIVFPQ architecture, which
    is THE shape that survives 100 TB: the coarse quantizer
    (_probe_blocks) prunes the corpus to nprobe cells (partition
    pruning at the scan when the table is partitioned by cell), then
    asymmetric-distance computation over PQ codes (pq_adc_topk_rel)
    ranks only the surviving candidates — m integer adds per row
    against a broadcast distance table, never the full-precision
    vectors. Both stages are nano fixed-point deterministic, so the
    composite stays oracle-checkable end to end.

    Returns ``(id_col, block_col, adc_dist_nano)`` for the top-k.
    """
    probed = _probe_blocks(df, qdf, nprobe, block_col, vec_col)
    cand = df.join(
        F.broadcast(probed), df[block_col] == F.col("block"), "left_semi"
    )
    ranked = pq_adc_topk_rel(
        cand, codebook, qdf, k=k, m=m, dim=dim,
        n_centroids=n_centroids, id_col=id_col, vec_col=vec_col,
    )
    return (
        ranked.join(F.broadcast(df.select(id_col, block_col)), id_col)
        .select(id_col, block_col, "adc_dist_nano")
        .orderBy(F.col("adc_dist_nano"), F.col(id_col))
    )


def maxsim_topk(
    docs: DataFrame,
    query_doc_id: int = 0,
    k: int = 10,
    chunk_words: int = 32,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Late-interaction retrieval (the ColBERT MaxSim scoring shape,
    model-free): documents are split into ``chunk_words``-word chunks,
    each chunk gets a signed feature-hash vector (same md5 parity
    construction as text.feature_hash_embedding — exact integers), and
    a candidate's score against the query document is
    ``Σ_query-chunk max(0, max_candidate-chunk ⟨q, c⟩)`` — fine-grained
    chunk-to-chunk matching instead of one pooled vector per document,
    which is what lets a long document match on one relevant passage.

    The relu on the inner max makes the score exactly well-defined
    under the SPARSE evaluation used here: chunk pairs sharing no hash
    bucket have dot 0 and are never materialized, and relu folds
    missing pairs and negative dots to the same 0 contribution.

    Scale shape: dots come from a bucket-key join against the
    BROADCAST query-chunk components (a query is a handful of chunks ×
    ≤dim buckets), so the corpus side is one scan + one aggregation —
    never a dense per-pair loop. Exact integer scores end to end.

    Returns (rank, id_col, score), the top ``k`` by (score desc, id).
    """
    n_bits = (dim - 1).bit_length()
    assert dim == 1 << n_bits and n_bits <= 14, "dim must be a power of 2"
    words = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    toks = docs.select(
        F.col(id_col), F.posexplode(words).alias("pos", "tok")
    ).select(
        id_col,
        F.expr(f"pos div {int(chunk_words)}").alias("chunk_id"),
        F.md5("tok").alias("h"),
    )
    odd = ("1", "3", "5", "7", "9", "b", "d", "f")

    def bit(c: int) -> F.Column:
        return (
            F.when(F.substring("h", c, 1).isin(*odd), F.lit(1))
            .otherwise(F.lit(0))
        )

    bucket = F.lit(0)
    for kk in range(n_bits):
        bucket = bucket + bit(kk + 1) * F.lit(1 << kk)
    sign = F.when(bit(n_bits + 1) == 1, F.lit(1)).otherwise(F.lit(-1))
    comps = (
        toks.select(
            id_col,
            "chunk_id",
            bucket.cast("int").alias("bucket"),
            sign.cast("long").alias("sign"),
        )
        .groupBy(id_col, "chunk_id", "bucket")
        .agg(F.sum("sign").alias("comp"))
    )
    q = (
        comps.filter(F.col(id_col) == query_doc_id)
        .select(
            F.col("chunk_id").alias("q_chunk"),
            "bucket",
            F.col("comp").alias("q_comp"),
        )
    )
    dots = (
        comps.filter(F.col(id_col) != query_doc_id)
        .join(F.broadcast(q), "bucket")
        .groupBy(id_col, "chunk_id", "q_chunk")
        .agg(F.sum(F.col("comp") * F.col("q_comp")).alias("dot"))
    )
    ms = dots.groupBy(id_col, "q_chunk").agg(
        F.greatest(F.max("dot"), F.lit(0).cast("long")).alias("m")
    )
    scores = ms.groupBy(id_col).agg(
        F.sum("m").cast("long").alias("score")
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("score").desc(), F.col(id_col))
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("rank", id_col, "score")
    )


def assign_to_codebook(
    df: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest codebook centroid WITHOUT
    retraining — the index-maintenance primitive (new data arrives, the
    trained coarse quantizer stays frozen). Nearest by the shared
    nano fixed-point L2 convention, ties to the smaller cell id (the
    same (d, c) struct-min train_codebook uses, so assignments are
    bit-stable cross-engine). The k-row codebook collapses to one
    nested broadcast row; assignment is map-side over the data — no
    shuffle of the corpus. Returns (id, c, dist_nano)."""
    cb1 = codebook.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("c", "centroid"))).alias("_cb")
    )
    staged = df.crossJoin(F.broadcast(cb1)).select(
        F.col(id_col), F.col(vec_col).alias("_v"), F.col("_cb")
    )
    best = F.array_min(
        F.transform(
            F.col("_cb"),
            lambda s: F.struct(
                _l2_nano(F.col("_v"), s["centroid"]).alias("d"),
                s["c"].alias("c"),
            ),
        )
    )
    return staged.select(
        F.col(id_col),
        best.getField("c").alias("c"),
        best.getField("d").cast("long").alias("dist_nano"),
    )


def mmr_diverse_topk_rel(
    df: DataFrame,
    qdf: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam_milli: int = 700,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998)
    diversified top-k — the retrieval re-ranker that keeps a RAG /
    training-batch context from filling with near-duplicates: greedily
    pick argmax ``λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)``.

    Scale split: relevance ranking over the CORPUS is the distributed
    stage (one TakeOrdered to a ``pool``-sized candidate relation,
    localCheckpointed so the k greedy rounds never rescan the corpus —
    the ivf_sweep lesson); the greedy loop then runs k−1 tiny
    broadcast-joined rounds over ≤ pool rows (the client-side re-rank
    cost of FAISS-style stacks, kept in-plan). Scores are floored nano
    fixed-point integers, λ in milli — ordering is integer comparison
    with an id tiebreak, so the pick sequence is deterministic and
    oracle-checkable on any engine.

    Returns ``(pick_order, id_col, rel_nano)`` for the picks. When the
    candidate pool (after the ``norm > 0`` filter — zero vectors have
    no defined cosine) holds fewer than ``k`` vectors, the result has
    ``min(k, |pool|)`` rows: the greedy loop STOPS at the first empty
    pick instead of spinning the remaining rounds against an empty
    remainder (ADVICE r10)."""
    q1 = qdf.select(F.col(vec_col).alias("_qv"))
    qn = q1.select(
        "_qv", F.sqrt(_dot(F.col("_qv"), F.col("_qv"))).alias("_qn")
    )
    v = F.col(vec_col)
    norm = F.sqrt(_dot(v, v))
    rel = _dot(v, F.col("_qv")) / (norm * F.col("_qn"))
    cand = (
        df.filter(norm > 0)
        .crossJoin(F.broadcast(qn))
        .select(
            F.col(id_col),
            v.alias("_emb"),
            F.floor(rel * NANO).cast("long").alias("rel_nano"),
        )
        .orderBy(F.col("rel_nano").desc(), F.col(id_col))
        .limit(pool)
        .localCheckpoint()
    )
    selected = (
        cand.orderBy(F.col("rel_nano").desc(), F.col(id_col))
        .limit(1)
        .select(
            F.lit(1).cast("long").alias("pick_order"),
            id_col, "_emb", "rel_nano",
        )
        .localCheckpoint()
    )
    pair_sim = _dot(F.col("_emb"), F.col("_semb")) / (
        F.sqrt(_dot(F.col("_emb"), F.col("_emb")))
        * F.sqrt(_dot(F.col("_semb"), F.col("_semb")))
    )
    for r in range(2, k + 1):
        remaining = cand.join(selected.select(id_col), id_col, "left_anti")
        scored = (
            remaining.crossJoin(
                F.broadcast(selected.select(F.col("_emb").alias("_semb")))
            )
            .select(
                id_col,
                "rel_nano",
                F.floor(pair_sim * NANO).cast("long").alias("sim_nano"),
            )
            .groupBy(id_col, "rel_nano")
            .agg(F.max("sim_nano").alias("max_sim_nano"))
        )
        pick = (
            scored.select(
                id_col,
                "rel_nano",
                (
                    F.lit(lam_milli) * F.col("rel_nano")
                    - F.lit(1000 - lam_milli) * F.col("max_sim_nano")
                ).alias("_mmr"),
            )
            .orderBy(F.col("_mmr").desc(), F.col(id_col))
            .limit(1)
            .join(cand.select(id_col, "_emb"), id_col)
            .select(
                F.lit(r).cast("long").alias("pick_order"),
                id_col, "_emb", "rel_nano",
            )
        )
        selected = selected.unionByName(pick).localCheckpoint()
        # pool exhausted: the pick came back empty, so every later
        # round would join an empty remainder — stop the greedy loop
        # (the checkpoint above already materialized, count is free)
        if selected.count() < r:
            break
    return selected.select("pick_order", id_col, "rel_nano")


def adaptive_lsh_cells(
    df: DataFrame,
    cell_cap: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADAPTIVE-RESOLUTION SRP-LSH cell assignment — the bounded-cell
    blocking primitive shared by the graph build (:func:`knn_graph_lsh`)
    and the scale-safe dedup twins (queries ``semdedup_verdicts_scaled``,
    ``dedup_embedding_cosine_srp``).

    One 12-plane sign-projection bucket id is read at three resolutions
    (bits 0-3 / 0-7 / 0-11); each 4-bit COARSE bucket whose population
    fits ``cell_cap`` blocks at level 0, an oversized coarse bucket
    descends to its 8-bit sub-buckets, and a still-oversized one to 12
    bits. The level is a function of the bucket ANCESTRY, so every
    member of a bucket agrees on its blocking level and pair generation
    stays consistent — no pair is half-descended. Within-cell candidate
    volume stays ~``cell_cap``·|V| at ANY corpus size instead of
    growing Σ|bucket|² with a fixed cell count (the r13 decade probe
    measured the fixed-cardinality forms at 24-159x on 10x data; this
    descent is the measured fix, 47.8x → 1.1x on the k-NN graph build).

    Returns the localCheckpointed |V|-row relation
    ``(_id, _v, _n, lvl, bkt)`` — zero-norm vectors excluded (their
    cosine is undefined). Checkpointed because every consumer joins it
    at least twice (both pair arms), and without it the 12-plane bucket
    chain + count joins re-derive under each arm (the no-CSE lesson).

    The SRP relation itself is staged FIRST: it feeds THREE subtrees
    (the two population-count aggregates and the descent arm), and
    Spark does no CSE across them — unstaged, the 12-plane HOF bucket
    fold (the dominant per-row cost) executed 3× inside the output
    checkpoint's job (r14 opt: cells-build force 2.2-2.4 s → 1.3-1.6 s
    fresh-JVM at sf0.1). The intermediate checkpoint is unpersisted as
    soon as the output checkpoint materializes — only the returned
    relation's blocks linger (the connected_components hygiene rule).
    """
    srp = _srp_keyed(df, id_col, vec_col).localCheckpoint()
    c4 = srp.groupBy("_b4").agg(F.count(F.lit(1)).alias("_n4"))
    c8 = srp.groupBy("_b8").agg(F.count(F.lit(1)).alias("_n8"))
    out = _descend(srp, c4, c8, cell_cap).localCheckpoint()
    _unpersist_ck(srp)  # superseded: out is materialized, srp unreferenced
    return out


# Shared checkpoint-hygiene helper (operators/_ck.py): exact eager
# free by backing-RDD id, degrading to ContextCleaner GC when the
# private plan path is unavailable (ADVICE r14 dedup + VERDICT r14 #8).
_unpersist_ck = unpersist_ck


def _srp_keyed(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """12-plane SRP bucket read at three resolutions:
    ``(_id, _v, _n, _b4, _b8, _b12)``, zero-norm vectors excluded."""
    b = lsh_bucket(df, n_planes=12, id_col=id_col, vec_col=vec_col)
    v = F.col(vec_col)
    return b.select(
        F.col(id_col).alias("_id"),
        v.alias("_v"),
        F.sqrt(_dot(v, v)).alias("_n"),
        F.pmod(F.col("bucket"), F.lit(16)).alias("_b4"),
        F.pmod(F.col("bucket"), F.lit(256)).alias("_b8"),
        F.col("bucket").alias("_b12"),
    ).filter(F.col("_n") > 0)


def _descend(srp: DataFrame, c4: DataFrame, c8: DataFrame,
             cell_cap: int) -> DataFrame:
    """Pick each vector's blocking (lvl, bkt) from the 4/8-bit
    population counts. The counts relations define the descent — pass
    a FROZEN index's counts (left-joined; an unseen bucket counts 0 and
    opens at the coarse level) to assign NEW vectors into an existing
    cell structure without rebuilding it (:func:`knn_graph_delta_merge`).
    """
    return (
        srp.join(F.broadcast(c4), "_b4", "left")
        .join(F.broadcast(c8), "_b8", "left")
        .select(
            "_id", "_v", "_n",
            F.when(F.coalesce(F.col("_n4"), F.lit(0)) <= cell_cap, F.lit(0))
            .when(F.coalesce(F.col("_n8"), F.lit(0)) <= cell_cap, F.lit(1))
            .otherwise(F.lit(2)).alias("lvl"),
            F.when(F.coalesce(F.col("_n4"), F.lit(0)) <= cell_cap,
                   F.col("_b4"))
            .when(F.coalesce(F.col("_n8"), F.lit(0)) <= cell_cap,
                  F.col("_b8"))
            .otherwise(F.col("_b12")).alias("bkt"),
        )
    )


def knn_graph_lsh(
    df: DataFrame,
    k: int = 8,
    cell_cap: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate k-NN GRAPH via ADAPTIVE-RESOLUTION SRP-LSH blocking
    — the offline build step of graph-traversal ANN (HNSW's flat-world
    cousin; Malkov & Yashunin 2018 build their layers from exactly
    this kind of neighbor list). One 12-plane sign-projection bucket
    id is read at three resolutions (bits 0-3 / 0-7 / 0-11); each
    4-bit COARSE bucket whose population fits ``cell_cap`` blocks at
    level 0, an oversized coarse bucket descends to its 8-bit
    sub-buckets, and a still-oversized one to 12 bits — so candidate
    volume stays ~``cell_cap``·|V| at ANY corpus size instead of
    growing Σ|bucket|² with a fixed plane count (the r13 decade probe
    measured the fixed-4-plane build at 47.8x on 10x data; adaptive
    descent is the same fix the IVF story prescribes for fixed-k
    blocking: the CELL COUNT scales, not the cell). The level is a
    function of the bucket ANCESTRY, so every member of a bucket
    agrees on its blocking level and pair generation stays consistent
    — no pair is half-descended.

    Exact cosine ranks the candidates and each node keeps its ``k``
    best (cosine desc, id tiebreak). Returns (src, dst, cos) with
    ≤ k rows per src — the bounded |V|·k artifact a traversal index
    stores. Population counts are two grouped aggregates broadcast
    back onto the vectors; a single blocking level per vector means
    each unordered pair is generated once per direction with no
    distinct shuffle.
    """
    # Staged (inside adaptive_lsh_cells): both pair arms (and through
    # them the window) consume this relation — |V| rows of
    # (id, vec, norm, lvl, bkt), the bounded artifact the build would
    # persist anyway.
    keyed = adaptive_lsh_cells(df, cell_cap, id_col, vec_col)
    return _keep_topk(_cell_pair_scores(keyed, keyed), k)


def _cell_pair_scores(src_keyed: DataFrame, dst_keyed: DataFrame) -> DataFrame:
    """(src, dst, cos) for every same-cell pair across the two keyed
    relations (``adaptive_lsh_cells`` shape), self-pairs excluded."""
    a = src_keyed.select(
        F.col("_id").alias("src"), F.col("_v").alias("_va"),
        F.col("_n").alias("_na"), "lvl", "bkt",
    )
    bb = dst_keyed.select(
        F.col("_id").alias("dst"), F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"), "lvl", "bkt",
    )
    return (
        a.join(bb, ["lvl", "bkt"])
        .filter(F.col("src") != F.col("dst"))
        .select(
            "src", "dst",
            (_dot(F.col("_va"), F.col("_vb"))
             / (F.col("_na") * F.col("_nb"))).alias("cos"),
        )
    )


def _keep_topk(edges: DataFrame, k: int) -> DataFrame:
    """Each src keeps its k best edges (cos desc, dst tiebreak)."""
    rn = Window.partitionBy("src").orderBy(F.col("cos").desc(), "dst")
    return (
        edges.withColumn("_rn", F.row_number().over(rn))
        .filter(F.col("_rn") <= k)
        .select("src", "dst", "cos")
    )


def knn_graph_delta_merge(
    base_df: DataFrame,
    delta_df: DataFrame,
    k: int = 8,
    cell_cap: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """INCREMENTAL k-NN graph maintenance — attach a CDC delta batch of
    new vectors to an existing :func:`knn_graph_lsh` index WITHOUT a
    full rebuild (VERDICT r13 ask #8b).

    The base build's cell structure is FROZEN: delta vectors are
    assigned through the base's 4/8-bit population counts (an unseen
    bucket counts 0 and opens at the coarse level), exactly like
    assigning new vectors to a frozen IVF codebook. Work is then
    delta-proportional, not corpus-proportional:

    * delta sources score only their cell-mates (base + delta),
    * base sources UPDATE by merging their existing k edges with the
      same-cell delta candidates and re-taking top-k — top-k(A ∪ B) =
      top-k(top-k(A) ∪ B), so merging the stored edge list with the
      delta candidates is EXACTLY a frozen-cell rebuild over
      base ∪ delta. The oracle spells that full rebuild, so the
      oracle gate PROVES incremental == batch (the
      incremental_dedup_assign discipline).

    At 100 TB: the base edge relation is the stored |V|·k artifact;
    each delta batch touches only the cells it lands in — the
    broadcast count relations and the delta-sized join arms are the
    whole per-batch cost. Periodic full rebuilds re-balance cells the
    same way IVF retrains its codebook.
    """
    # Stage the base SRP relation: it feeds the two count aggregates,
    # the base descent AND (via the frozen counts) the delta descent —
    # unstaged, the 12-plane HOF fold re-executed under each subtree
    # (same r14 opt as adaptive_lsh_cells; freed once both descents
    # are materialized).
    base_srp = _srp_keyed(base_df, id_col, vec_col).localCheckpoint()
    c4 = base_srp.groupBy("_b4").agg(F.count(F.lit(1)).alias("_n4"))
    c8 = base_srp.groupBy("_b8").agg(F.count(F.lit(1)).alias("_n8"))
    # The two descents are independent given the staged SRP relation
    # (both read the cached base_srp / the frozen counts) — overlap
    # their checkpoint jobs (guide §2.6) instead of queueing the
    # delta's behind the base's tail.
    base_keyed, delta_keyed = overlap(
        lambda: _descend(base_srp, c4, c8, cell_cap).localCheckpoint(),
        lambda: _descend(
            _srp_keyed(delta_df, id_col, vec_col), c4, c8, cell_cap
        ).localCheckpoint(),
    )
    _unpersist_ck(base_srp)  # both descents materialized; srp unreferenced

    base_edges = _keep_topk(_cell_pair_scores(base_keyed, base_keyed), k)
    return knn_graph_delta_merge_prebuilt(
        base_keyed, base_edges, delta_keyed, k
    )


def knn_graph_delta_merge_prebuilt(
    base_keyed: DataFrame,
    base_edges: DataFrame,
    delta_keyed: DataFrame,
    k: int = 8,
) -> DataFrame:
    """The merge core of :func:`knn_graph_delta_merge` against
    PERSISTED index state — what a served index (or the streaming
    ingester, streaming/ann.py) runs per batch: ``base_keyed`` and
    ``base_edges`` come off storage, ``delta_keyed`` is the new batch
    already assigned through the FROZEN counts (:func:`_descend`).
    Only delta-sized join arms touch compute; the stored edge artifact
    streams through one union + window."""
    all_keyed = base_keyed.unionByName(delta_keyed)
    delta_edges = _keep_topk(
        _cell_pair_scores(delta_keyed, all_keyed), k
    )
    base_updated = _keep_topk(
        base_edges.unionByName(
            _cell_pair_scores(base_keyed, delta_keyed)
        ),
        k,
    )
    return base_updated.unionByName(delta_edges)


def knn_graph_delta_delete(
    df: DataFrame,
    delete_df: DataFrame,
    k: int = 8,
    cell_cap: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """INCREMENTAL k-NN graph DELETION — the CDC complement of
    :func:`knn_graph_delta_merge`: drop a batch of vectors from an
    existing index without a full rebuild.

    The cell structure stays FROZEN (counts from the full pre-delete
    corpus — deletions don't re-balance cells, just like IVF doesn't
    retrain on deletes). Three bounded steps:

    * edges whose src is deleted vanish with their source;
    * a src that LOST a neighbor (some top-k dst deleted) re-ranks its
      cell-mates among survivors — only those srcs recompute, found by
      a semi-join of the stored edges against the delete set;
    * every other src keeps its stored edges verbatim: deleting a
      vector that was never in a src's top-k cannot change that top-k.

    So the result EQUALS a frozen-cell rebuild over the survivors —
    which is what the registered query's oracle spells, making the
    oracle gate prove incremental == batch. Per-batch work is
    delete-proportional: the semi/anti joins stream the stored |V|·k
    artifact once, and only the affected srcs' cells re-score.
    """
    keyed = adaptive_lsh_cells(df, cell_cap, id_col, vec_col)

    # Given the staged cells, the edge build and the delete-side chain
    # (delete ids, then the survivor slice) are independent — run the
    # two chains on sibling driver threads (guide §2.6) so the small
    # delete-side jobs back-fill the edge build's tail.
    def _delete_side():
        ids = delete_df.select(F.col(id_col).alias("_del")).localCheckpoint()
        surv = keyed.join(
            F.broadcast(ids), keyed["_id"] == F.col("_del"), "left_anti"
        ).localCheckpoint()
        return ids, surv

    edges, (del_ids, survivors) = overlap(
        lambda: _keep_topk(
            _cell_pair_scores(keyed, keyed), k
        ).localCheckpoint(),
        _delete_side,
    )

    affected_src = edges.join(
        F.broadcast(del_ids), edges["dst"] == F.col("_del"), "left_semi"
    ).select("src")
    untouched = (
        edges.join(F.broadcast(del_ids), edges["src"] == F.col("_del"),
                   "left_anti")
        .join(F.broadcast(affected_src), "src", "left_anti")
    )
    recompute_keyed = survivors.join(
        F.broadcast(affected_src), survivors["_id"] == F.col("src"),
        "left_semi",
    )
    recomputed = _keep_topk(
        _cell_pair_scores(recompute_keyed, survivors), k
    )
    return untouched.unionByName(recomputed)


def score_corpus_vs_query(
    df: DataFrame,
    qdf: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The |V|-row ``(id_col, cosine)`` relation of the whole corpus
    scored against ``qdf``'s single query vector, localCheckpointed —
    the hop-independent input of :func:`knn_beam_search`, exposed so a
    caller can OVERLAP its materialization with the independent k-NN
    graph build (guide §2.6; the two chains share no dependency, so
    submitting them from sibling driver threads back-fills the
    scheduling floor instead of paying it twice in sequence).

    Query contract (same as knn_beam_search): one query vector with
    norm > 0 — the limit enforces single-row, the norm filter turns an
    all-zero query into an empty result rather than NaN chasing."""
    v = F.col(vec_col)
    q1 = (
        qdf.select(v.alias("_qv"))
        .select("_qv", F.sqrt(_dot(F.col("_qv"), F.col("_qv"))).alias("_qn"))
        .filter(F.col("_qn") > 0)
        .limit(1)
    )
    return (
        df.crossJoin(F.broadcast(q1))
        .filter(F.sqrt(_dot(v, v)) > 0)
        .select(
            F.col(id_col),
            (_dot(v, F.col("_qv"))
             / (F.sqrt(_dot(v, v)) * F.col("_qn"))).alias("cosine"),
        )
        .localCheckpoint()
    )


def knn_beam_search(
    df: DataFrame,
    knn: DataFrame,
    qdf: DataFrame,
    seed_df: DataFrame,
    beam: int = 8,
    hops: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scored: DataFrame | None = None,
) -> DataFrame:
    """Greedy BEAM SEARCH over a k-NN graph relation — the traversal
    arm that completes the ANN operating curve next to IVF/PQ/LSH: a
    seeded frontier expands ``hops`` times along graph edges, every
    expansion scores only the frontier's neighbors against the query,
    and the beam keeps the ``beam`` best VISITED nodes as the next
    frontier (best-first with bounded width — HNSW's in-layer search,
    expressed in joins).

    Per hop: one broadcast join of the bounded frontier against the
    (|V|·k)-row edge relation, one distinct + anti-join against the
    visited set (≤ seeds + hops·beam·k rows by construction), one
    scoring join against the corpus. Per-hop cost is frontier-bounded
    — corpus-independent except the scoring scan — which is the whole
    point of traversal ANN at 100 TB. The visited relation is
    localCheckpointed each round (both the union and the anti-join
    consume it — the no-CSE lesson).

    Returns every visited node as (vec_id, cosine) — callers slice
    their top-k and compare against the exact arm for recall.
    """
    # Score the WHOLE corpus against the query ONCE and checkpoint the
    # |V|-row (id, cosine) relation; every hop then joins this scored
    # relation instead of re-planning a corpus scan + fold chain. The
    # floats are identical (same fold on the same rows) but the per-hop
    # plan carries NO lambda expressions — the r13 profile attributed
    # the query's fresh-session floor to HOF plan-compile cost, and 4
    # nested fold-bearing trees collapse to 1 here. At 100 TB the
    # corpus pass is the hop-independent cost the traversal amortizes
    # over many queries (a served index stores exactly this relation
    # per query batch). Callers that also build the graph can pass the
    # relation in as ``scored`` (score_corpus_vs_query) to overlap the
    # two independent chains (guide §2.6); the query contract —
    # exactly one norm>0 query vector — lives there either way.
    sc = scored if scored is not None else score_corpus_vs_query(
        df, qdf, id_col, vec_col
    )

    def score(ids: DataFrame) -> DataFrame:
        return sc.join(F.broadcast(ids), id_col)

    visited = score(seed_df.select(id_col)).localCheckpoint()
    for _ in range(hops):
        frontier = (
            visited.orderBy(F.col("cosine").desc(), id_col)
            .limit(beam)
            .select(F.col(id_col).alias("_f"))
        )
        cand = (
            knn.join(F.broadcast(frontier), knn["src"] == F.col("_f"))
            .select(F.col("dst").alias(id_col))
            .distinct()
            .join(F.broadcast(visited.select(id_col)), id_col, "left_anti")
        )
        visited = visited.unionByName(score(cand)).localCheckpoint()
    return visited
