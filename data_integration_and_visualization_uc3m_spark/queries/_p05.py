"""Query registry — part 5/8 of the mechanical queries.py split.

Contiguous slice of the original module; see queries/_core.py for
the chaining scheme. Do not reorder across parts — registration
order is the driver-window rotation order.
"""

from __future__ import annotations

from ._p04 import *  # noqa: F401,F403



@register(
    "epoch_mixing_apply",
    """
    WITH t AS (
        SELECT doc_id, source,
               CAST(ceil(length(text) / 4.0) AS BIGINT) AS tokens
        FROM documents
    ), c AS (
        SELECT source,
               CAST(SUM(tokens) AS BIGINT) AS avail_tokens,
               CASE source WHEN 'src0' THEN CAST(0.5 AS DOUBLE)
                           WHEN 'src1' THEN CAST(0.3 AS DOUBLE)
                           WHEN 'src2' THEN CAST(0.2 AS DOUBLE) END AS weight
        FROM t WHERE source IN ('src0', 'src1', 'src2')
        GROUP BY source
    ), p AS (
        SELECT source,
               CAST(FLOOR(CAST(CAST(FLOOR(CAST(100000 AS DOUBLE) * weight
                                          / CAST(1.0 AS DOUBLE)) AS BIGINT)
                               AS DOUBLE) / avail_tokens * 1000000)
                    AS BIGINT) AS epochs_fp6
        FROM c
    ), pl AS (
        SELECT source,
               CAST((epochs_fp6 - epochs_fp6 % 1000000) / 1000000
                    AS BIGINT) AS n_full,
               CAST((epochs_fp6 % 1000000 * 4294967296
                     - (epochs_fp6 % 1000000 * 4294967296) % 1000000)
                    / 1000000 AS BIGINT) AS thr
        FROM p
    ), inst AS (
        -- fixed 0..512 series + e <= n_full filter: DuckDB 1.0 cannot
        -- parameterize generate_series laterally; 512 bounds epochs at
        -- every tested SF (oracle-only artifice, Spark uses sequence)
        SELECT t.doc_id, t.source, g.e AS epoch
        FROM t
        JOIN pl ON pl.source = t.source
        CROSS JOIN generate_series(0, 512) g(e)
        WHERE g.e <= pl.n_full
          AND (g.e < pl.n_full
               OR CAST(('0x'||substring(md5(
                      'ep0:'||CAST(t.doc_id AS VARCHAR)||':'
                      ||CAST(g.e AS VARCHAR)
                  ),1,8)) AS BIGINT) < pl.thr)
    )
    SELECT source, COUNT(*) AS n_instances,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM inst GROUP BY source
    """,
    ops=["epoch-apply", "corpus-mixing", "hash-sample"],
)
def epoch_mixing_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized multi-epoch mix (operators/mixing.py:epoch_apply):
    per source, the instance count after integer-epoch repeats plus the
    deterministic fractional-epoch draw — the relation a packer/shuffler
    consumes. Same 100k-token 50/30/20 plan as epoch_mixing_plan."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.ceil(F.length("text") / F.lit(4.0)).cast("long").alias("tokens"),
    )
    inst = mixing.epoch_apply(
        toks, {"src0": 0.5, "src1": 0.3, "src2": 0.2}, token_budget=100000
    )
    return inst.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_instances"),
        F.count_distinct("doc_id").cast("long").alias("n_docs"),
    )


@register(
    "perplexity_buckets",
    f"""
    WITH lp AS ({REGISTRY["doc_bigram_logprob"].oracle}), terc AS (
        SELECT quantile_cont(CAST(avg_logp_fp6 AS DOUBLE),
                             [1.0/3, 2.0/3]) AS q
        FROM lp
    ), b AS (
        SELECT l.doc_id, l.avg_logp_fp6,
               CASE WHEN CAST(l.avg_logp_fp6 AS DOUBLE) >= t.q[2] THEN 'head'
                    WHEN CAST(l.avg_logp_fp6 AS DOUBLE) >= t.q[1] THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM lp l CROSS JOIN terc t
    )
    SELECT d.source, b.bucket, COUNT(*) AS n_docs,
           CAST(SUM(b.avg_logp_fp6) AS BIGINT) AS sum_logp_fp6
    FROM b JOIN documents d ON d.doc_id = b.doc_id
    GROUP BY d.source, b.bucket
    """,
    ops=["perplexity-buckets", "text-lm-score", "quantiles"],
)
def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail partitioning by LM score: tercile
    boundaries of the corpus-self-trained bigram-LM document score
    (exact interpolated percentiles, 2-value broadcast), bucket label
    per document, per-(source, bucket) census. High logprob = head =
    the cleanest third."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    lp = corpus_stats.bigram_logprob(d)
    terc = lp.agg(
        F.percentile(F.col("avg_logp_fp6").cast("double"), [1 / 3, 2 / 3]).alias(
            "q"
        )
    )
    lpd = F.col("avg_logp_fp6").cast("double")
    b = lp.crossJoin(F.broadcast(terc)).select(
        "doc_id",
        "avg_logp_fp6",
        F.when(lpd >= F.element_at("q", 2), F.lit("head"))
        .when(lpd >= F.element_at("q", 1), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
    return (
        b.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("avg_logp_fp6").alias("sum_logp_fp6"),
        )
    )


@register(
    "merge_orders_full",
    """
    WITH tgt AS (
        SELECT o_orderkey AS k,
               CAST(o_totalprice AS DECIMAL(18,2)) AS price,
               o_orderstatus AS status
        FROM orders WHERE o_orderkey % 4 <> 0
    ), src AS (
        SELECT o_orderkey AS k,
               CAST(o_totalprice AS DECIMAL(18,2)) + 10 AS price,
               o_orderstatus AS status,
               CASE WHEN o_orderkey % 9 = 0 THEN 'D' ELSE 'U' END AS flag
        FROM orders WHERE o_orderkey % 3 = 0
    ), merged AS (
        SELECT t.k, s.price AS price, t.status
        FROM tgt t JOIN src s ON s.k = t.k
        WHERE s.flag <> 'D'
        UNION ALL
        SELECT t.k, t.price, t.status
        FROM tgt t WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.k = t.k)
        UNION ALL
        SELECT s.k, s.price, s.status
        FROM src s WHERE NOT EXISTS (SELECT 1 FROM tgt t WHERE t.k = s.k)
    )
    SELECT k, CAST(price AS DOUBLE) AS price, status FROM merged
    """,
    ops=["merge-full", "K2", "full-outer-join"],
)
def merge_orders_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-clause MERGE (operators/upsert.py:merge_full) driven from
    derived target/source relations: matched+flag'D' rows DELETE,
    other matches UPDATE price only (status keeps the target's value),
    unmatched source rows INSERT — one full-outer join, three
    projection branches. The oracle spells the equivalent
    join/anti-join union."""
    o = _t(spark, sf_dir, "orders")
    tgt = o.filter(F.col("o_orderkey") % 4 != 0).select(
        F.col("o_orderkey").alias("k"),
        _dec2("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    src = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"),
        (_dec2("o_totalprice") + F.lit(10)).alias("price"),
        F.col("o_orderstatus").alias("status"),
        F.when(F.col("o_orderkey") % 9 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("flag"),
    )
    merged = upsert.merge_full(
        tgt,
        src,
        keys=["k"],
        update_cols=["price"],
        delete_condition=F.col("src_flag") == "D",
    )
    return merged.select(
        "k", F.col("price").cast("double").alias("price"), "status"
    )


@register(
    "jsonl_roundtrip_report",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           CAST(MIN(epoch_us(ts)) AS BIGINT) AS min_ts_us,
           CAST(MAX(epoch_us(ts)) AS BIGINT) AS max_ts_us
    FROM events GROUP BY event_type
    """,
    ops=["jsonl-roundtrip", "S5-adjacent", "K5-adjacent"],
)
def jsonl_roundtrip_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines interchange fidelity gate: events written to JSONL
    (microsecond ISO timestamps — sinks/writers.py:write_jsonl) and
    read back with an explicit schema must aggregate identically to
    the parquet original, down to min/max epoch-microseconds. The
    oracle reads the ORIGINAL table, so any truncation or tz shift in
    the roundtrip fails the hash."""

    from ..schemas import TESTDATA
    from ..sinks.writers import write_jsonl
    from ..sources.readers import read_jsonl

    e = _t(spark, sf_dir, "events")
    work = scratch_dir("jsonl", sf_dir, clean=True)
    write_jsonl(e, f"{work}/events_jsonl")
    back = read_jsonl(spark, f"{work}/events_jsonl", TESTDATA["events"])
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.sum(F.col("value").cast(DEC6)).cast("double").alias("total_value"),
        F.min(F.unix_micros("ts")).alias("min_ts_us"),
        F.max(F.unix_micros("ts")).alias("max_ts_us"),
    )


_PQ_CODES_CTE = f"""
    {_codebook_cte(4)}, dists AS (
        SELECT e.vec_id, g.j AS sub, b.c,
               CAST(FLOOR(list_sum(list_transform(range(1, 9),
                   i -> (CAST(e.embedding[g.j*8 + i] AS DOUBLE)
                         - b.centroid[g.j*8 + i])
                        * (CAST(e.embedding[g.j*8 + i] AS DOUBLE)
                           - b.centroid[g.j*8 + i])))
                   * 1000000000) AS BIGINT) AS d
        FROM embeddings e
        CROSS JOIN generate_series(0, 7) g(j)
        CROSS JOIN cb b
    ), codes AS (
        SELECT vec_id, sub, c FROM (
            SELECT vec_id, sub, c,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY d, c) AS rn
            FROM dists) WHERE rn = 1
    )
"""


@register(
    "pq_codes_embeddings",
    f"""
    WITH {_PQ_CODES_CTE}
    SELECT vec_id,
           CAST(MAX(CASE WHEN sub = 0 THEN c END) AS INTEGER) AS c0,
           CAST(MAX(CASE WHEN sub = 1 THEN c END) AS INTEGER) AS c1,
           CAST(MAX(CASE WHEN sub = 2 THEN c END) AS INTEGER) AS c2,
           CAST(MAX(CASE WHEN sub = 3 THEN c END) AS INTEGER) AS c3,
           CAST(MAX(CASE WHEN sub = 4 THEN c END) AS INTEGER) AS c4,
           CAST(MAX(CASE WHEN sub = 5 THEN c END) AS INTEGER) AS c5,
           CAST(MAX(CASE WHEN sub = 6 THEN c END) AS INTEGER) AS c6,
           CAST(MAX(CASE WHEN sub = 7 THEN c END) AS INTEGER) AS c7
    FROM codes GROUP BY vec_id
    """,
    ops=["pq-quantization", "similarity-codebook"],
)
def pq_codes_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes (Jégou et al. 2011) over the
    embeddings table: 8 subspaces × a 4-centroid coarse codebook
    TRAINED in-plan (one Lloyd step from the 4 lowest-id seeds —
    operators/similarity.py:train_codebook), nearest centroid per
    subspace in exact nano fixed point (similarity.pq_codes_rel). The
    codebook is a relation that collapses to one broadcast row, so
    assignment is map-side with zero driver collects."""
    e = _t(spark, sf_dir, "embeddings", fanout=True)
    cb = similarity.train_codebook(e, k=4)
    return similarity.pq_codes_rel(e, cb, m=8, dim=64)


@register(
    "pq_adc_topk",
    f"""
    WITH {_PQ_CODES_CTE}, q AS (
        SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
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
    SELECT vec_id, adc_dist_nano FROM adc
    ORDER BY adc_dist_nano, vec_id LIMIT 10
    """,
    ops=["pq-adc", "similarity-ann"],
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric distance computation over the PQ codes: full-
    precision query (the vec_id=0 row, as a 1-row broadcast relation)
    vs 8-code database rows via an in-plan m×k distance table built on
    the broadcast side from the TRAINED codebook relation, exact
    integer adds, deterministic top-10
    (operators/similarity.py:pq_adc_topk_rel). Zero driver collects."""
    e = _t(spark, sf_dir, "embeddings", fanout=True)
    cb = similarity.train_codebook(e, k=4)
    q = e.filter(F.col("vec_id") == 0)
    return similarity.pq_adc_topk_rel(e, cb, q, k=10, m=8, n_centroids=4)


@register(
    "pq_recall_report",
    f"""
    WITH {_PQ_CODES_CTE}, q AS (
        SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
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
    ), approx AS (
        SELECT vec_id FROM adc ORDER BY adc_dist_nano, vec_id LIMIT 10
    ), exact AS (
        SELECT vec_id FROM (
            SELECT e.vec_id,
                   CAST(FLOOR(list_sum(list_transform(
                       list_zip(e.embedding, q.qv),
                       p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                            * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))
                       * 1000000000) AS BIGINT) AS dn
            FROM embeddings e, q)
        ORDER BY dn, vec_id LIMIT 10
    ), hit AS (
        SELECT COUNT(*) AS n_overlap
        FROM approx a JOIN exact x ON x.vec_id = a.vec_id
    )
    SELECT CAST(n_overlap AS BIGINT) AS n_overlap,
           CAST(FLOOR(CAST(n_overlap AS DOUBLE) / 10 * 1000000) AS BIGINT)
             AS recall_fp6
    FROM hit
    """,
    ops=["pq-adc", "ann-recall"],
)
def pq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of PQ/ADC against exact L2 ground truth (same metric,
    full precision — operators/similarity.py:l2_topk_rel), completing
    the measured-recall family (IVF, int8, PQ). The deliberately tiny
    4-centroid codebook makes the quantization loss VISIBLE: the
    report documents the trade, not a vacuous 100%. Codebook and query
    are both relations (similarity.train_codebook / *_rel) — zero
    driver collects anywhere in the plan.

    Sampling policy at production scale: as with ivf_recall_report,
    the exact-L2 truth arm runs over a hash-sampled query set /
    corpus stratum (``sampling.hash_sample``) at 100 TB; the PQ/ADC
    arm stays production-shaped. Full corpus is the oracle-checked
    test-SF configuration."""
    e = _t(spark, sf_dir, "embeddings", fanout=True)
    cb = similarity.train_codebook(e, k=4)
    q = e.filter(F.col("vec_id") == 0)
    approx = similarity.pq_adc_topk_rel(
        e, cb, q, k=10, m=8, n_centroids=4
    ).select("vec_id")
    exact = similarity.l2_topk_rel(e, q, k=10).select("vec_id")
    hit = approx.join(exact, "vec_id", "left_semi").agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    return hit.select(
        "n_overlap",
        F.floor(F.col("n_overlap").cast("double") / F.lit(10) * F.lit(1000000))
        .cast("long")
        .alias("recall_fp6"),
    )


def _bpe_ctes(n_merges: int = 5) -> str:
    """Shared unrolled-BPE CTE chain: w0 is the marked word-frequency
    relation; each stage s counts adjacent symbol pairs, picks the top
    pair (freq DESC, lhs, rhs) as b{s}, and rewrites the symbol
    strings as w{s} — the SQL twin of the Spark driver loop in
    text.bpe_train_merges, reused by both the training and the
    encode-apply oracles."""
    ctes = [
        """w0 AS (
        SELECT regexp_replace(w, '(.)', '⟨\\1⟩', 'g') AS r,
               COUNT(*) AS cnt
        FROM (
            SELECT unnest(list_filter(string_split(lower(text), ' '),
                                      x -> x <> '')) AS w
            FROM documents)
        GROUP BY w
    )"""
    ]
    for s in range(1, n_merges + 1):
        prev = f"w{s-1}"
        ctes.append(
            f"""p{s} AS (
        SELECT p.lhs AS lhs, p.rhs AS rhs, CAST(SUM(cnt) AS BIGINT) AS freq
        FROM (
            SELECT unnest(list_transform(range(1, len(syms)),
                       i -> struct_pack(lhs := syms[i], rhs := syms[i+1]))) AS p,
                   cnt
            FROM (SELECT regexp_extract_all(r, '⟨([^⟩]+)⟩', 1) AS syms, cnt
                  FROM {prev})
            WHERE len(syms) >= 2)
        GROUP BY p.lhs, p.rhs
    ), b{s} AS (
        SELECT lhs, rhs, freq FROM p{s}
        ORDER BY freq DESC, lhs, rhs LIMIT 1
    ), w{s} AS (
        SELECT replace(w.r, '⟨'||b.lhs||'⟩⟨'||b.rhs||'⟩',
                       '⟨'||b.lhs||b.rhs||'⟩') AS r, w.cnt
        FROM {prev} w, b{s} b
    )"""
        )
    return "\n    WITH " + ",\n    ".join(ctes) + "\n    "


def _bpe_oracle(n_merges: int = 5) -> str:
    """Training readout over the shared CTE chain: the merge table."""
    finals = [
        f"SELECT CAST({s} AS INTEGER) AS step, lhs, rhs,"
        f" lhs||rhs AS merged, freq FROM b{s}"
        for s in range(1, n_merges + 1)
    ]
    return _bpe_ctes(n_merges) + "\n    UNION ALL\n    ".join(finals)


def _bpe_encode_oracle(n_merges: int = 5) -> str:
    """Encode-apply readout over the shared CTE chain: the final
    vocabulary relation w{n} maps each word (recovered by stripping
    the ⟨⟩ symbol marks — merging never changes the characters) to its
    post-merge token count; per-source word occurrences join that map
    and aggregate to fertility/compression stats."""
    return (
        _bpe_ctes(n_merges)
        + f""", enc AS (
        SELECT replace(replace(r, '⟨', ''), '⟩', '') AS w,
               CAST(len(regexp_extract_all(r, '⟨([^⟩]+)⟩', 1)) AS BIGINT)
                   AS n_tok
        FROM w{n_merges}
    ), sw AS (
        SELECT source, w, COUNT(*) AS cnt FROM (
            SELECT source,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      x -> x <> '')) AS w
            FROM documents)
        GROUP BY source, w
    ), agg AS (
        SELECT source,
               CAST(SUM(sw.cnt) AS BIGINT) AS n_words,
               CAST(SUM(sw.cnt * length(sw.w)) AS BIGINT) AS n_chars,
               CAST(SUM(sw.cnt * e.n_tok) AS BIGINT) AS n_tokens
        FROM sw JOIN enc e USING (w) GROUP BY source
    )
    SELECT source, n_words, n_chars, n_tokens,
           CAST(FLOOR(CAST(n_tokens AS DOUBLE) / n_words * 1000000)
                AS BIGINT) AS fertility_fp6,
           CAST(FLOOR(CAST(n_tokens AS DOUBLE) / n_chars * 1000000)
                AS BIGINT) AS compression_fp6
    FROM agg
    """
    )


@register(
    "bpe_merge_table",
    _bpe_oracle(5),
    ops=["bpe-training", "iterative", "text-tokens"],
)
def bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A real BPE trainer (Sennrich et al. 2016) on the corpus: the
    first 5 learned merges with their frequencies
    (operators/text.py:bpe_train_merges). Corpus-sized work happens
    once (word counting); each merge round runs on the vocabulary
    relation with a 1-row driver collect, and the oracle unrolls the
    same fixpoint as chained CTEs."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    return text.bpe_train_merges(d, n_merges=5)


@register(
    "bpe_encode_stats",
    _bpe_encode_oracle(5),
    ops=["bpe-apply", "text-tokens", "A3", "J1-adjacent"],
)
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE train→APPLY composition (operators.text.bpe_encode_stats):
    learn 5 merges, rewrite the VOCABULARY map only (never re-encode
    occurrences), and join per-source word counts against it for
    fertility (tokens/word) and compression (tokens/char) — the
    readout a tokenizer swap is judged by. Corpus-sized data crosses
    one hash join against a vocabulary-sized side; every merge
    replace is a map-side expression over the vocabulary."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    return text.bpe_encode_stats(d, n_merges=5, group_col="source")


def _lpa_ctes(rounds: int = 2) -> str:
    """Shared unrolled-LPA CTE chain (per round one neighbor-label
    score CTE + one deterministic argmax CTE, ROW_NUMBER over
    (weight DESC, label)), mirroring
    operators.graph.label_propagation_rounds exactly; reused by the
    community and the modularity readouts."""
    ctes = [
        """
    edges AS (
        SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY src, dst
    ), und AS (
        SELECT u, v, CAST(SUM(w) AS BIGINT) AS w FROM (
            SELECT src AS u, dst AS v, w FROM edges
            UNION ALL
            SELECT dst AS u, src AS v, w FROM edges
        ) GROUP BY u, v
    ), l0 AS (
        SELECT DISTINCT u AS node, u AS label FROM und
    )"""
    ]
    for s in range(1, rounds + 1):
        ctes.append(f"""sc{s} AS (
        SELECT e.u AS node, l.label AS label,
               CAST(SUM(e.w) AS BIGINT) AS sw
        FROM und e JOIN l{s-1} l ON l.node = e.v
        GROUP BY e.u, l.label
    ), l{s} AS (
        SELECT node, label FROM (
            SELECT node, label,
                   ROW_NUMBER() OVER (PARTITION BY node
                                      ORDER BY sw DESC, label) AS rn
            FROM sc{s}) WHERE rn = 1
    )""")
    return "\n    WITH " + ",\n    ".join(ctes)


def _lpa_oracle(rounds: int = 2) -> str:
    """Community readout over the shared LPA CTE chain."""
    return (
        _lpa_ctes(rounds) + f""", sizes AS (
        SELECT label, COUNT(*) AS n FROM l{rounds} GROUP BY label
    )
    SELECT n_name, CAST(x.label AS BIGINT) AS comm_label,
           CAST(sz.n AS BIGINT) AS comm_size
    FROM l{rounds} x
    JOIN sizes sz ON sz.label = x.label
    JOIN nation ON n_nationkey = x.node
    """
    )


@register(
    "event_gap_slo_report",
    """
    WITH g AS (
        SELECT event_type,
               epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us,
               event_id
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts), event_id)
    ), gg AS (
        SELECT event_type, gap_us, event_id,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY gap_us, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM g WHERE gap_us IS NOT NULL
    )
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_gaps,
           CAST(MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN gap_us END)
                AS BIGINT) AS p50_us,
           CAST(MAX(CASE WHEN rn = (n * 95 + 99) // 100 THEN gap_us END)
                AS BIGINT) AS p95_us,
           CAST(MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN gap_us END)
                AS BIGINT) AS p99_us,
           CAST(SUM(CASE WHEN gap_us > 300000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_over_5min
    FROM gg GROUP BY event_type
    """,
    ops=["slo-latency-percentiles", "window-lag-lead", "stats-quantile"],
)
def event_gap_slo_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latency-SLO readout per event type: exact nearest-rank p50 /
    p95 / p99 of inter-arrival gaps (ceil-rank ⌈q·n⌉ via integer
    arithmetic — no percentile interpolation semantics to disagree
    on) plus the count of gaps breaching a 5-minute target. Two
    partitioned windows (lag, then rank) and one aggregation — the
    ops-dashboard shape for 'is this stream healthy', all exact
    integer microseconds."""
    e = _t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = Window.partitionBy("event_type").orderBy(us, "event_id")
    g = e.select(
        "event_type",
        (us - F.lag(us).over(w)).alias("gap_us"),
        "event_id",
    ).filter(F.col("gap_us").isNotNull())
    rw = Window.partitionBy("event_type").orderBy("gap_us", "event_id")
    kw = Window.partitionBy("event_type")
    gg = g.select(
        "event_type",
        "gap_us",
        F.row_number().over(rw).alias("rn"),
        F.count(F.lit(1)).over(kw).alias("n"),
    )
    def at_pct(p):
        return F.max(
            F.when(
                F.col("rn") == F.expr(f"(n * {p} + 99) div 100"),
                F.col("gap_us"),
            )
        ).cast("long")
    return gg.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_gaps"),
        at_pct(50).alias("p50_us"),
        at_pct(95).alias("p95_us"),
        at_pct(99).alias("p99_us"),
        F.sum(
            F.when(F.col("gap_us") > 300_000_000, 1).otherwise(0)
        ).cast("long").alias("n_over_5min"),
    )


@register(
    "daily_revenue_acf",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DECIMAL(18,2)) AS y
        FROM orders GROUP BY day
    ), lags AS (
        SELECT CAST(range AS INTEGER) AS lag FROM range(1, 15)
    ), pairs AS (
        SELECT l.lag AS lag, a.y AS ya, b.y AS yb
        FROM daily a
        CROSS JOIN lags l
        JOIN daily b ON b.day = a.day + CAST(l.lag AS INTEGER)
    ), m AS (
        SELECT lag, COUNT(*) AS n,
               CAST(SUM(ya) AS DOUBLE) AS sa, CAST(SUM(yb) AS DOUBLE) AS sb,
               CAST(SUM(CAST(ya AS DECIMAL(19,2)) * ya) AS DOUBLE) AS saa,
               CAST(SUM(CAST(yb AS DECIMAL(19,2)) * yb) AS DOUBLE) AS sbb,
               CAST(SUM(CAST(ya AS DECIMAL(19,2)) * yb) AS DOUBLE) AS sab
        FROM pairs GROUP BY lag
    )
    SELECT lag, CAST(n AS BIGINT) AS n_pairs,
           CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0 THEN
               CAST(FLOOR((n * sab - sa * sb)
                   / (sqrt(n * saa - sa * sa) * sqrt(n * sbb - sb * sb))
                   * 1000000) AS BIGINT) END AS acf_fp6
    FROM m
    """,
    ops=["timeseries-acf", "stats-corr", "A3"],
)
def daily_revenue_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of global daily revenue at lags 1-14
    (weekly structure shows as a lag-7 peak): the lagged pairing is an
    EQUI-join on day+lag (a 14-way bounded explode — no range join,
    no window over the whole series), the five moments per lag are
    exact DECIMAL sums (one operand widened to DECIMAL(19,2) for the
    oracle's int64 multiply path), and each ACF value is one
    fixed-order double expression floored to fp6. The classic
    seasonality diagnostic next to STL/EWMA/Holt."""
    o = _t(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(_dec2("o_totalprice")).cast(DEC2).alias("y"))
    )
    lags = spark.range(1, 15).select(F.col("id").cast("int").alias("lag"))
    a = daily.crossJoin(F.broadcast(lags)).select(
        "lag",
        F.expr("date_add(day, lag)").alias("jday"),
        F.col("y").alias("ya"),
    )
    b = daily.select(F.col("day").alias("jday"), F.col("y").alias("yb"))
    pairs = a.join(b, "jday")
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ya").cast("double").alias("sa"),
        F.sum("yb").cast("double").alias("sb"),
        F.sum(F.col("ya") * F.col("ya")).cast("double").alias("saa"),
        F.sum(F.col("yb") * F.col("yb")).cast("double").alias("sbb"),
        F.sum(F.col("ya") * F.col("yb")).cast("double").alias("sab"),
    )
    n = F.col("n")
    sa, sb = F.col("sa"), F.col("sb")
    saa, sbb, sab = F.col("saa"), F.col("sbb"), F.col("sab")
    va = n * saa - sa * sa
    vb = n * sbb - sb * sb
    return m.select(
        "lag",
        n.cast("long").alias("n_pairs"),
        F.when(
            (va > 0) & (vb > 0),
            F.floor(
                (n * sab - sa * sb) / (F.sqrt(va) * F.sqrt(vb)) * F.lit(1e6)
            ).cast("long"),
        ).alias("acf_fp6"),
    )


@register(
    "feature_information_gain",
    """
    WITH j AS (
        SELECT n_name,
               c_mktsegment AS seg,
               CAST(CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,2)))
                         AS BIGINT) // 25000 AS VARCHAR) AS band_s,
               CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS urgent
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
    ), fl AS (
        SELECT u.f AS feat, u.v AS v, urgent FROM (
            SELECT unnest([struct_pack(f := 'nation', v := n_name),
                           struct_pack(f := 'segment', v := seg),
                           struct_pack(f := 'price_band', v := band_s)]) AS u,
                   urgent
            FROM j)
    ), cells AS (
        SELECT feat, v, urgent, COUNT(*) AS c_vy
        FROM fl GROUP BY feat, v, urgent
    ), cv AS (
        SELECT feat, v, CAST(SUM(c_vy) AS BIGINT) AS c_v
        FROM cells GROUP BY feat, v
    ), cond AS (
        SELECT c.feat AS feat,
               CAST(COUNT(DISTINCT c.v) AS BIGINT) AS n_values,
               CAST(SUM(CAST(FLOOR((c.c_vy * ln(CAST(g.c_v AS DOUBLE))
                                    - c.c_vy * ln(CAST(c.c_vy AS DOUBLE)))
                                   * 1000000) AS BIGINT)) AS BIGINT)
                   AS cond_fp6
        FROM cells c JOIN cv g ON g.feat = c.feat AND g.v = c.v
        GROUP BY c.feat
    ), lab AS (
        SELECT urgent, COUNT(*) AS c_y FROM j GROUP BY urgent
    ), nrow AS (
        SELECT CAST(SUM(c_y) AS BIGINT) AS n FROM lab
    ), hl AS (
        SELECT CAST(SUM(CAST(FLOOR((c_y * ln(CAST(n AS DOUBLE))
                                    - c_y * ln(CAST(c_y AS DOUBLE)))
                                   * 1000000) AS BIGINT)) AS BIGINT)
                   AS h_label_fp6
        FROM lab CROSS JOIN nrow
    )
    SELECT feat, n_values,
           CAST(h_label_fp6 - cond_fp6 AS BIGINT) AS ig_scaled_fp6,
           CAST(FLOOR(CAST(h_label_fp6 - cond_fp6 AS DOUBLE) / n)
                AS BIGINT) AS ig_fp6
    FROM cond CROSS JOIN hl CROSS JOIN nrow
    """,
    ops=["ml-feature-selection", "stats-entropy", "A3"],
)
def feature_information_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature ranking by information gain on an 'urgent order' label:
    N·H terms decompose into per-cell integers
    c·ln(parent) − c·ln(c), each floored to fp6 BEFORE the integer
    sum (the bm25 discipline — no cross-row float ever), so the
    ranking is bit-identical on any engine. All three candidate
    features ride ONE scan via an in-row struct explode; cells are
    feature-cardinality-sized from there on. The per-row gain ig_fp6
    divides two exact integers."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n_ = _t(spark, sf_dir, "nation")
    j = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(n_.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "n_name",
            F.col("c_mktsegment").alias("seg"),
            F.expr(
                "CAST(CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,2)))"
                " AS BIGINT) div 25000 AS STRING)"
            ).alias("band_s"),
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
            ).otherwise(0).alias("urgent"),
        )
    )
    fl = j.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("nation").alias("f"), F.col("n_name").alias("v")
                ),
                F.struct(F.lit("segment").alias("f"), F.col("seg").alias("v")),
                F.struct(
                    F.lit("price_band").alias("f"), F.col("band_s").alias("v")
                ),
            )
        ).alias("u"),
        "urgent",
    ).select(F.col("u.f").alias("feat"), F.col("u.v").alias("v"), "urgent")
    cells = fl.groupBy("feat", "v", "urgent").agg(
        F.count(F.lit(1)).alias("c_vy")
    )
    cv = cells.groupBy("feat", "v").agg(F.sum("c_vy").cast("long").alias("c_v"))
    term = F.floor(
        (
            F.col("c_vy") * F.log(F.col("c_v").cast("double"))
            - F.col("c_vy") * F.log(F.col("c_vy").cast("double"))
        )
        * F.lit(1e6)
    ).cast("long")
    cond = (
        cells.join(cv, ["feat", "v"])
        .groupBy("feat")
        .agg(
            F.countDistinct("v").cast("long").alias("n_values"),
            F.sum(term).cast("long").alias("cond_fp6"),
        )
    )
    lab = j.groupBy("urgent").agg(F.count(F.lit(1)).alias("c_y"))
    nrow = lab.agg(F.sum("c_y").cast("long").alias("n"))
    lterm = F.floor(
        (
            F.col("c_y") * F.log(F.col("n").cast("double"))
            - F.col("c_y") * F.log(F.col("c_y").cast("double"))
        )
        * F.lit(1e6)
    ).cast("long")
    hl = (
        lab.crossJoin(F.broadcast(nrow))
        .agg(F.sum(lterm).cast("long").alias("h_label_fp6"))
    )
    return (
        cond.crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(nrow))
        .select(
            "feat",
            "n_values",
            (F.col("h_label_fp6") - F.col("cond_fp6"))
            .cast("long")
            .alias("ig_scaled_fp6"),
            F.floor(
                (F.col("h_label_fp6") - F.col("cond_fp6")).cast("double")
                / F.col("n")
            ).cast("long").alias("ig_fp6"),
        )
    )


@register(
    "median_imputation_report",
    f"""
    WITH base AS (
        SELECT n_name, o_orderkey,
               CAST(o_totalprice AS DECIMAL(18,2)) AS price,
               CAST(('0x'||substring(md5('ko1:'||CAST(o_orderkey AS VARCHAR)),1,8))
                    AS BIGINT) < {int(0.05 * (1 << 32))} AS knocked
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
    ), surv AS (
        SELECT n_name, price, o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY n_name
                                  ORDER BY price, o_orderkey) AS rn,
               COUNT(*) OVER (PARTITION BY n_name) AS n
        FROM base WHERE NOT knocked
    ), med AS (
        SELECT n_name, price AS med_price
        FROM surv WHERE rn = (n + 1) // 2
    )
    SELECT b.n_name AS n_name,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN b.knocked THEN 1 ELSE 0 END) AS BIGINT)
               AS n_imputed,
           CAST(m.med_price AS DOUBLE) AS imputed_value,
           CAST(SUM(CASE WHEN b.knocked
                         THEN CAST(abs(b.price - m.med_price)
                                   AS DECIMAL(18,2))
                         ELSE CAST(0 AS DECIMAL(18,2)) END)
                AS DOUBLE) AS total_abs_err
    FROM base b JOIN med m ON m.n_name = b.n_name
    GROUP BY b.n_name, m.med_price
    """,
    ops=["cleaning-imputation", "stats-quantile", "A3"],
)
def median_imputation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median imputation with a built-in ground-truth evaluation:
    deterministically knock out 5% of order prices (md5 bucket —
    reproducible 'missingness'), impute each victim with its nation's
    exact rank-median of the SURVIVORS (the rank technique, no
    percentile interpolation), and report the per-nation imputed
    value plus the exact total absolute error vs the held-out truth —
    the evaluation a cleaning pipeline should publish next to every
    imputation rule. One extra window over survivors; errors
    accumulate in exact DECIMAL."""
    from ..operators.sampling import hash_bucket

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    base = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "n_name",
            "o_orderkey",
            _dec2("o_totalprice").alias("price"),
            (
                hash_bucket(F.col("o_orderkey"), "ko1")
                < F.lit(int(0.05 * (1 << 32)))
            ).alias("knocked"),
        )
    )
    w = Window.partitionBy("n_name").orderBy("price", "o_orderkey")
    kw = Window.partitionBy("n_name")
    surv = (
        base.filter(~F.col("knocked"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(kw))
    )
    med = surv.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "n_name", F.col("price").alias("med_price")
    )
    zero = F.lit(0).cast(DEC2)
    return (
        base.join(med, "n_name")
        .groupBy("n_name", "med_price")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("knocked"), 1).otherwise(0))
            .cast("long")
            .alias("n_imputed"),
            F.sum(
                F.when(
                    F.col("knocked"),
                    F.abs(F.col("price") - F.col("med_price")).cast(DEC2),
                ).otherwise(zero)
            )
            .cast("double")
            .alias("total_abs_err"),
        )
        .select(
            "n_name",
            "n_rows",
            "n_imputed",
            F.col("med_price").cast("double").alias("imputed_value"),
            "total_abs_err",
        )
    )


@register(
    "region_revenue_quad_trend",
    """
    WITH daily AS (
        SELECT r_name, CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DECIMAL(18,2)) AS y
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, day
    ), t0 AS (
        SELECT r_name, day, y,
               CAST(date_diff('day', MIN(day) OVER (PARTITION BY r_name),
                              day) AS BIGINT) AS t
        FROM daily
    ), m AS (
        SELECT r_name,
               COUNT(*) AS n,
               CAST(SUM(t) AS BIGINT) AS st,
               CAST(SUM(t * t) AS BIGINT) AS st2,
               CAST(SUM(t * t * t) AS BIGINT) AS st3,
               CAST(SUM(t * t * t * t) AS BIGINT) AS st4,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(y * t) AS DOUBLE) AS syt,
               CAST(SUM(y * t * t) AS DOUBLE) AS syt2
        FROM t0 GROUP BY r_name
    ), d AS (
        SELECT r_name, n, sy, syt, syt2,
               CAST(st AS DOUBLE) AS st, CAST(st2 AS DOUBLE) AS st2,
               CAST(st3 AS DOUBLE) AS st3, CAST(st4 AS DOUBLE) AS st4
        FROM m
    ), solved AS (
        SELECT r_name, n,
               n * (st2 * st4 - st3 * st3)
                 - st * (st * st4 - st3 * st2)
                 + st2 * (st * st3 - st2 * st2) AS det,
               sy * (st2 * st4 - st3 * st3)
                 - st * (syt * st4 - st3 * syt2)
                 + st2 * (syt * st3 - st2 * syt2) AS deta,
               n * (syt * st4 - st3 * syt2)
                 - sy * (st * st4 - st3 * st2)
                 + st2 * (st * syt2 - syt * st2) AS detb,
               n * (st2 * syt2 - syt * st3)
                 - st * (st * syt2 - syt * st2)
                 + sy * (st * st3 - st2 * st2) AS detc
        FROM d
    )
    SELECT r_name, CAST(n AS BIGINT) AS n_days,
           CASE WHEN det > 0 THEN
               CAST(FLOOR(deta / det * 1000) AS BIGINT) END AS a_fp3,
           CASE WHEN det > 0 THEN
               CAST(FLOOR(detb / det * 1000000) AS BIGINT) END AS b_fp6,
           CASE WHEN det > 0 THEN
               CAST(FLOOR(detc / det * 1000000000) AS BIGINT) END AS c_fp9
    FROM solved
    """,
    ops=["stats-ols-polynomial", "A3"],
)
def region_revenue_quad_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadratic trend fit (y = a + b·t + c·t²) of each region's
    daily revenue by closed-form normal equations: the seven
    sufficient statistics (Σtᵏ as exact BIGINT over region-centred
    day indices, Σy·tᵏ as exact DECIMAL) feed Cramer's-rule 3×3
    determinants written once in a fixed operand order — polynomial
    regression at scale is one aggregation plus scalar math, no
    iterative solver. Coefficients floor-quantized at scales matching
    their magnitudes (intercept fp3, slope fp6, curvature fp9);
    NULL on a degenerate design (det ≤ 0)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n_ = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    daily = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(n_.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(r.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("r_name", F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(_dec2("o_totalprice")).cast(DEC2).alias("y"))
    )
    kw = Window.partitionBy("r_name")
    t0 = daily.select(
        "r_name",
        "y",
        F.datediff(F.col("day"), F.min("day").over(kw)).cast("long").alias("t"),
    )
    t = F.col("t")
    m = t0.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(t).cast("long").alias("st_i"),
        F.sum(t * t).cast("long").alias("st2_i"),
        F.sum(t * t * t).cast("long").alias("st3_i"),
        F.sum(t * t * t * t).cast("long").alias("st4_i"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("y") * t).cast("double").alias("syt"),
        F.sum(F.col("y") * t * t).cast("double").alias("syt2"),
    )
    d = m.select(
        "r_name",
        "n",
        "sy",
        "syt",
        "syt2",
        F.col("st_i").cast("double").alias("st"),
        F.col("st2_i").cast("double").alias("st2"),
        F.col("st3_i").cast("double").alias("st3"),
        F.col("st4_i").cast("double").alias("st4"),
    )
    n, sy, syt, syt2 = F.col("n"), F.col("sy"), F.col("syt"), F.col("syt2")
    st, st2, st3, st4 = (
        F.col("st"), F.col("st2"), F.col("st3"), F.col("st4")
    )
    det = (
        n * (st2 * st4 - st3 * st3)
        - st * (st * st4 - st3 * st2)
        + st2 * (st * st3 - st2 * st2)
    )
    deta = (
        sy * (st2 * st4 - st3 * st3)
        - st * (syt * st4 - st3 * syt2)
        + st2 * (syt * st3 - st2 * syt2)
    )
    detb = (
        n * (syt * st4 - st3 * syt2)
        - sy * (st * st4 - st3 * st2)
        + st2 * (st * syt2 - syt * st2)
    )
    detc = (
        n * (st2 * syt2 - syt * st3)
        - st * (st * syt2 - syt * st2)
        + sy * (st * st3 - st2 * st2)
    )
    solved = d.select(
        "r_name",
        n.alias("n"),
        det.alias("det"),
        deta.alias("deta"),
        detb.alias("detb"),
        detc.alias("detc"),
    )
    dd = F.col("det")
    return solved.select(
        "r_name",
        F.col("n").cast("long").alias("n_days"),
        F.when(dd > 0, F.floor(F.col("deta") / dd * F.lit(1e3)).cast("long"))
        .alias("a_fp3"),
        F.when(dd > 0, F.floor(F.col("detb") / dd * F.lit(1e6)).cast("long"))
        .alias("b_fp6"),
        F.when(dd > 0, F.floor(F.col("detc") / dd * F.lit(1e9)).cast("long"))
        .alias("c_fp9"),
    )


@register(
    "cohort_ltv_curve",
    """
    WITH ue AS (
        SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk,
               CAST(value AS DECIMAL(18,2)) AS v
        FROM events
    ), cohorts AS (
        SELECT user_id, MIN(wk) AS cohort FROM ue GROUP BY user_id
    ), cells AS (
        SELECT c.cohort,
               CAST(date_diff('week', c.cohort, ue.wk) AS BIGINT) AS age,
               CAST(SUM(ue.v) AS DECIMAL(18,2)) AS rev,
               CAST(COUNT(DISTINCT ue.user_id) AS BIGINT) AS n_active
        FROM ue JOIN cohorts c ON c.user_id = ue.user_id
        GROUP BY c.cohort, age
    )
    SELECT cohort, age, n_active,
           CAST(rev AS DOUBLE) AS week_revenue,
           CAST(SUM(rev) OVER (PARTITION BY cohort ORDER BY age
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS cum_ltv
    FROM cells
    """,
    ops=["cohort-ltv", "window-rolling", "A3"],
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: users bucketed by first-seen week,
    per (cohort, age-in-weeks) active users + revenue, and the
    cumulative LTV running sum per cohort — the growth-accounting
    readout next to weekly_retention_cohorts. Revenue stays DECIMAL
    through the cumulative window (cast to double only at emission);
    one corpus-sized reduction, then everything runs on the
    cohort×age grid."""
    e = _t(spark, sf_dir, "events")
    ue = e.select(
        "user_id",
        F.date_trunc("week", "ts").cast("date").alias("wk"),
        F.col("value").cast(DEC2).alias("v"),
    )
    cohorts = ue.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    cells = (
        ue.join(cohorts, "user_id")
        .groupBy(
            "cohort",
            F.datediff(F.col("wk"), F.col("cohort"))
            .cast("long")
            .alias("agedays"),
        )
        .agg(
            F.sum("v").cast(DEC2).alias("rev"),
            F.countDistinct("user_id").cast("long").alias("n_active"),
        )
        .select(
            "cohort",
            F.expr("agedays div 7").cast("long").alias("age"),
            "rev",
            "n_active",
        )
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cells.select(
        "cohort",
        "age",
        "n_active",
        F.col("rev").cast("double").alias("week_revenue"),
        F.sum("rev").over(w).cast("double").alias("cum_ltv"),
    )


@register(
    "anova_order_value_by_segment",
    """
    WITH j AS (
        SELECT c_mktsegment AS seg,
               CAST(o_totalprice AS DECIMAL(18,2)) AS v
        FROM orders JOIN customer ON o_custkey = c_custkey
    ), m AS (
        SELECT CAST(SUM(CASE WHEN seg = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS n_0,
               CAST(SUM(CASE WHEN seg = 'AUTOMOBILE' THEN v ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS s_0,
               CAST(SUM(CASE WHEN seg = 'AUTOMOBILE' THEN v * v ELSE CAST(0 AS DECIMAL(38,4)) END) AS DOUBLE) AS ss_0,
               CAST(SUM(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS n_1,
               CAST(SUM(CASE WHEN seg = 'BUILDING' THEN v ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS s_1,
               CAST(SUM(CASE WHEN seg = 'BUILDING' THEN v * v ELSE CAST(0 AS DECIMAL(38,4)) END) AS DOUBLE) AS ss_1,
               CAST(SUM(CASE WHEN seg = 'FURNITURE' THEN 1 ELSE 0 END) AS BIGINT) AS n_2,
               CAST(SUM(CASE WHEN seg = 'FURNITURE' THEN v ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS s_2,
               CAST(SUM(CASE WHEN seg = 'FURNITURE' THEN v * v ELSE CAST(0 AS DECIMAL(38,4)) END) AS DOUBLE) AS ss_2,
               CAST(SUM(CASE WHEN seg = 'HOUSEHOLD' THEN 1 ELSE 0 END) AS BIGINT) AS n_3,
               CAST(SUM(CASE WHEN seg = 'HOUSEHOLD' THEN v ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS s_3,
               CAST(SUM(CASE WHEN seg = 'HOUSEHOLD' THEN v * v ELSE CAST(0 AS DECIMAL(38,4)) END) AS DOUBLE) AS ss_3,
               CAST(SUM(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS n_4,
               CAST(SUM(CASE WHEN seg = 'MACHINERY' THEN v ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS s_4,
               CAST(SUM(CASE WHEN seg = 'MACHINERY' THEN v * v ELSE CAST(0 AS DECIMAL(38,4)) END) AS DOUBLE) AS ss_4
        FROM j
    )
    SELECT CAST(5 AS INTEGER) AS n_groups,
           CAST(n_0 + n_1 + n_2 + n_3 + n_4 AS BIGINT) AS n_rows,
           CAST(FLOOR(((s_0 * s_0 / n_0 + s_1 * s_1 / n_1 + s_2 * s_2 / n_2 + s_3 * s_3 / n_3 + s_4 * s_4 / n_4)
                       - (s_0 + s_1 + s_2 + s_3 + s_4) * (s_0 + s_1 + s_2 + s_3 + s_4) / (n_0 + n_1 + n_2 + n_3 + n_4))
                      / ((ss_0 + ss_1 + ss_2 + ss_3 + ss_4)
                         - (s_0 + s_1 + s_2 + s_3 + s_4) * (s_0 + s_1 + s_2 + s_3 + s_4) / (n_0 + n_1 + n_2 + n_3 + n_4))
                      * 1000000) AS BIGINT) AS eta2_fp6,
           CAST(FLOOR((((s_0 * s_0 / n_0 + s_1 * s_1 / n_1 + s_2 * s_2 / n_2 + s_3 * s_3 / n_3 + s_4 * s_4 / n_4)
                        - (s_0 + s_1 + s_2 + s_3 + s_4) * (s_0 + s_1 + s_2 + s_3 + s_4) / (n_0 + n_1 + n_2 + n_3 + n_4)) / 4)
                      / (((ss_0 + ss_1 + ss_2 + ss_3 + ss_4)
                          - (s_0 + s_1 + s_2 + s_3 + s_4) * (s_0 + s_1 + s_2 + s_3 + s_4) / (n_0 + n_1 + n_2 + n_3 + n_4)
                          - ((s_0 * s_0 / n_0 + s_1 * s_1 / n_1 + s_2 * s_2 / n_2 + s_3 * s_3 / n_3 + s_4 * s_4 / n_4)
                             - (s_0 + s_1 + s_2 + s_3 + s_4) * (s_0 + s_1 + s_2 + s_3 + s_4) / (n_0 + n_1 + n_2 + n_3 + n_4)))
                         / ((n_0 + n_1 + n_2 + n_3 + n_4) - 5))
                      * 10000) AS BIGINT) AS f_stat_fp4
    FROM m
    """,
    ops=["stats-anova", "A3"],
)
def anova_order_value_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of order value across the five market segments
    from sufficient statistics: per-segment (n, Σv, Σv²) collected in
    ONE conditional-aggregation pass (every sum decimal-exact), then
    SS_between = Σ sᵢ²/nᵢ − S²/N and SS_total = ΣΣv² − S²/N combined
    in an EXPLICIT fixed-order expression over the pivoted 1-row
    relation — no cross-row double sum exists anywhere, so the η²
    (variance explained, fp6) and F statistic (fp4) are bit-identical
    on any engine (a groupBy + re-aggregate would sum k doubles in an
    engine-chosen order). The segment roster is part of the query's
    declared contract."""
    segs = ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY']
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    zero2 = F.lit(0).cast(DEC2)
    zero4 = F.lit(0).cast("decimal(38,4)")
    j = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("seg"),
        _dec2("o_totalprice").alias("v"),
    )
    aggs = []
    for i, g in enumerate(segs):
        hit = F.col("seg") == g
        aggs += [
            F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias(f"n_{i}"),
            F.sum(F.when(hit, F.col("v")).otherwise(zero2))
            .cast("double").alias(f"s_{i}"),
            F.sum(F.when(hit, F.col("v") * F.col("v")).otherwise(zero4))
            .cast("double").alias(f"ss_{i}"),
        ]
    m = j.agg(*aggs)
    n = [F.col(f"n_{i}") for i in range(5)]
    sv = [F.col(f"s_{i}") for i in range(5)]
    ssv = [F.col(f"ss_{i}") for i in range(5)]
    nt = n[0] + n[1] + n[2] + n[3] + n[4]
    st = sv[0] + sv[1] + sv[2] + sv[3] + sv[4]
    sst = ssv[0] + ssv[1] + ssv[2] + ssv[3] + ssv[4]
    ssbsum = (
        sv[0] * sv[0] / n[0]
        + sv[1] * sv[1] / n[1]
        + sv[2] * sv[2] / n[2]
        + sv[3] * sv[3] / n[3]
        + sv[4] * sv[4] / n[4]
    )
    ssb = ssbsum - st * st / nt
    sstot = sst - st * st / nt
    return m.select(
        F.lit(5).cast("int").alias("n_groups"),
        nt.cast("long").alias("n_rows"),
        F.floor(ssb / sstot * F.lit(1e6)).cast("long").alias("eta2_fp6"),
        F.floor(
            (ssb / F.lit(4)) / ((sstot - ssb) / (nt - F.lit(5))) * F.lit(1e4)
        ).cast("long").alias("f_stat_fp4"),
    )


_CM_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

_CM_SUMS_SQL = ",\n               ".join(
    [
        f"CAST(SUM(CAST({c} AS DECIMAL(18,2))) AS DOUBLE) AS s_{i}"
        for i, c in enumerate(_CM_COLS)
    ]
    + [
        f"CAST(SUM(CAST({a} AS DECIMAL(18,2)) * CAST({b} AS DECIMAL(18,2)))"
        f" AS DOUBLE) AS p_{i}_{j}"
        for i, a in enumerate(_CM_COLS)
        for j, b in enumerate(_CM_COLS)
        if i <= j
    ]
)

_CM_PAIR_SQL = "\n    UNION ALL\n    ".join(
    f"""SELECT '{_CM_COLS[i]}' AS col_a, '{_CM_COLS[j]}' AS col_b,
           CASE WHEN (n * p_{i}_{i} - s_{i} * s_{i}) > 0
                 AND (n * p_{j}_{j} - s_{j} * s_{j}) > 0 THEN
               CAST(FLOOR((n * p_{i}_{j} - s_{i} * s_{j})
                   / (sqrt(n * p_{i}_{i} - s_{i} * s_{i})
                      * sqrt(n * p_{j}_{j} - s_{j} * s_{j}))
                   * 1000000) AS BIGINT) END AS corr_fp6
    FROM m"""
    for i in range(4)
    for j in range(4)
    if i < j
)


@register(
    "lineitem_corr_matrix",
    f"""
    WITH m AS (
        SELECT COUNT(*) AS n,
               {_CM_SUMS_SQL}
        FROM lineitem
    )
    {_CM_PAIR_SQL}
    """,
    ops=["stats-corr-matrix", "A3"],
)
def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pairwise Pearson matrix over four lineitem measures from
    ONE aggregation pass: the 4 sums + 10 cross-products are exact
    DECIMAL sufficient statistics collected together (sufficient-
    statistics discipline — at 100 TB you never rescan per pair), and
    each of the 6 correlations is one fixed-order double expression
    over the single 1-row result, floored to fp6 (NULL on degenerate
    variance). The oracle unrolls the same 6 expressions."""
    l = _t(spark, sf_dir, "lineitem")
    cols = [_dec2(c) for c in _CM_COLS]
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(cols[i]).cast("double").alias(f"s_{i}") for i in range(4)
    ] + [
        F.sum(cols[i] * cols[j]).cast("double").alias(f"p_{i}_{j}")
        for i in range(4)
        for j in range(4)
        if i <= j
    ]
    m = l.agg(*aggs)
    # all six pair rows from ONE projection over the single moment row
    # (a union of six selects would rescan lineitem six times)
    structs = []
    for i in range(4):
        for j in range(4):
            if i >= j:
                continue
            n = F.col("n")
            si, sj = F.col(f"s_{i}"), F.col(f"s_{j}")
            pii, pjj = F.col(f"p_{i}_{i}"), F.col(f"p_{j}_{j}")
            pij = F.col(f"p_{i}_{j}")
            vx = n * pii - si * si
            vy = n * pjj - sj * sj
            structs.append(
                F.struct(
                    F.lit(_CM_COLS[i]).alias("col_a"),
                    F.lit(_CM_COLS[j]).alias("col_b"),
                    F.when(
                        (vx > 0) & (vy > 0),
                        F.floor(
                            (n * pij - si * sj)
                            / (F.sqrt(vx) * F.sqrt(vy))
                            * F.lit(1e6)
                        ).cast("long"),
                    ).alias("corr_fp6"),
                )
            )
    return m.select(F.explode(F.array(*structs)).alias("p")).select(
        "p.col_a", "p.col_b", "p.corr_fp6"
    )


@register(
    "spatial_grid_nn",
    """
    WITH pts AS (
        SELECT range AS point_id,
               CAST(('0x'||substring(md5('gx:'||CAST(range AS VARCHAR)),1,8))
                    AS BIGINT) % 10000000 AS px,
               CAST(('0x'||substring(md5('gy:'||CAST(range AS VARCHAR)),1,8))
                    AS BIGINT) % 10000000 AS py
        FROM range(2000)
    ), pr AS (
        SELECT range AS probe_id,
               CAST(('0x'||substring(md5('qx:'||CAST(range AS VARCHAR)),1,8))
                    AS BIGINT) % 10000000 AS qx,
               CAST(('0x'||substring(md5('qy:'||CAST(range AS VARCHAR)),1,8))
                    AS BIGINT) % 10000000 AS qy
        FROM range(200)
    ), cand AS (
        SELECT pr.probe_id, pts.point_id,
               (px - qx) * (px - qx) + (py - qy) * (py - qy) AS d2
        FROM pr
        CROSS JOIN (SELECT range - 1 AS dx FROM range(3)) x
        CROSS JOIN (SELECT range - 1 AS dy FROM range(3)) y
        JOIN pts ON pts.px // 500000 = pr.qx // 500000 + x.dx
                AND pts.py // 500000 = pr.qy // 500000 + y.dy
    )
    SELECT probe_id, point_id, CAST(d2 AS BIGINT) AS d2 FROM (
        SELECT probe_id, point_id, d2,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY d2, point_id) AS rn
        FROM cand) WHERE rn = 1
    """,
    ops=["spatial-grid-nn", "source-synthetic-generator"],
)
def spatial_grid_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial nearest-neighbor join (operators.joins.
    grid_nearest_neighbor): 200 probe locations against 2000 points
    on a 0.5°-cell grid — band, 3×3-neighborhood equi-join, exact
    integer squared distance, deterministic argmin. Coordinates are
    md5-derived integer micro-degrees (the synthetic-generator
    primitive), so there is NO trig and NO float anywhere — the
    spatial join family re-expressed as the same banded-equi-join
    discipline as the interval and similarity joins. Bounded-radius
    semantics: a probe with no point within its neighborhood has no
    row (pick the cell size ≥ the radius that matters)."""
    def gen(n, sx, sy, idc):
        h = lambda seed: (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", F.lit(seed), F.col("id").cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 10_000_000
        )
        return spark.range(n).select(
            F.col("id").alias(idc), h(sx).alias("x"), h(sy).alias("y")
        )

    points = gen(2000, "gx", "gy", "id")
    probes = gen(200, "qx", "qy", "id")
    return joins.grid_nearest_neighbor(points, probes, cell=500_000)


@register(
    "kaplan_meier_user_lifetime",
    """
    WITH pu AS (
        SELECT user_id,
               CAST(date_diff('day', MIN(CAST(ts AS DATE)),
                              MAX(CAST(ts AS DATE))) AS BIGINT) AS t,
               MAX(CAST(ts AS DATE)) AS last_day
        FROM events GROUP BY user_id
    ), horizon AS (
        SELECT MAX(last_day) AS max_day FROM pu
    ), lab AS (
        SELECT t,
               CASE WHEN last_day >= max_day - 2 THEN 0 ELSE 1 END AS ev
        FROM pu CROSS JOIN horizon
    ), per_t AS (
        SELECT t,
               CAST(SUM(ev) AS BIGINT) AS n_events,
               CAST(SUM(1 - ev) AS BIGINT) AS n_censored
        FROM lab GROUP BY t
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM lab
    ), risk AS (
        SELECT t, n_events, n_censored,
               n_users
                 - CAST(COALESCE(SUM(n_events + n_censored) OVER (
                       ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
        FROM per_t CROSS JOIN tot
    ), terms AS (
        SELECT t, n_risk, n_events, n_censored,
               CASE WHEN n_events = 0 THEN CAST(0 AS BIGINT)
                    WHEN n_risk - n_events > 0 THEN
                        CAST(FLOOR(ln(CAST(n_risk - n_events AS DOUBLE)
                                      / n_risk) * 1000000000) AS BIGINT)
               END AS term_fp9
        FROM risk
    )
    SELECT t, n_risk, n_events, n_censored,
           CASE WHEN MAX(CASE WHEN term_fp9 IS NULL THEN 1 ELSE 0 END)
                     OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) = 0
                THEN CAST(SUM(term_fp9) OVER (
                         ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS BIGINT)
           END AS log_surv_fp9
    FROM terms
    """,
    ops=["stats-survival-kaplan-meier", "window-rolling", "A3"],
)
def kaplan_meier_user_lifetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival over user lifetimes (first→last event,
    days), right-censoring users still active in the window's final 3
    days. Risk sets and event counts are exact integers (a running
    window over the ≤31-row lifetime axis); the survival curve is
    carried as LOG-survival in floor-fp9 — each ln(1 − d/n) term is
    floored BEFORE the cumulative integer sum, the bm25 discipline —
    and goes NULL once the curve hits zero (ln 0). At 100 TB the
    per-user reduction is the only corpus-sized stage; everything
    after runs on the lifetime axis."""
    e = _t(spark, sf_dir, "events")
    pu = e.groupBy("user_id").agg(
        F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts")))
        .cast("long")
        .alias("t"),
        F.max(F.to_date("ts")).alias("last_day"),
    )
    horizon = pu.agg(F.max("last_day").alias("max_day"))
    lab = pu.crossJoin(F.broadcast(horizon)).select(
        "t",
        F.when(
            F.col("last_day") >= F.date_sub(F.col("max_day"), 2), 0
        ).otherwise(1).alias("ev"),
    )
    per_t = lab.groupBy("t").agg(
        F.sum("ev").cast("long").alias("n_events"),
        F.sum(F.lit(1) - F.col("ev")).cast("long").alias("n_censored"),
    )
    tot = lab.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_run = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = per_t.crossJoin(F.broadcast(tot)).select(
        "t",
        "n_events",
        "n_censored",
        (
            F.col("n_users")
            - F.coalesce(
                F.sum(F.col("n_events") + F.col("n_censored")).over(w_prev),
                F.lit(0),
            )
        ).cast("long").alias("n_risk"),
    )
    term = F.when(F.col("n_events") == 0, F.lit(0).cast("long")).when(
        F.col("n_risk") - F.col("n_events") > 0,
        F.floor(
            F.log(
                (F.col("n_risk") - F.col("n_events")).cast("double")
                / F.col("n_risk")
            )
            * F.lit(1e9)
        ).cast("long"),
    )
    terms = risk.select(
        "t", "n_risk", "n_events", "n_censored", term.alias("term_fp9")
    )
    hit_zero = F.max(
        F.when(F.col("term_fp9").isNull(), 1).otherwise(0)
    ).over(w_run)
    return terms.select(
        "t",
        "n_risk",
        "n_events",
        "n_censored",
        F.when(
            hit_zero == 0, F.sum("term_fp9").over(w_run).cast("long")
        ).alias("log_surv_fp9"),
    )


@register(
    "ab_test_cuped",
    f"""
    WITH per_user AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                             THEN CAST(value AS DECIMAL(18,2))
                             ELSE CAST(0 AS DECIMAL(18,2)) END)
                    AS DECIMAL(18,2)) AS x,
               CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                             THEN CAST(value AS DECIMAL(18,2))
                             ELSE CAST(0 AS DECIMAL(18,2)) END)
                    AS DECIMAL(18,2)) AS y,
               CASE WHEN CAST(('0x'||substring(md5('ab1:'||CAST(user_id AS VARCHAR)),1,8))
                         AS BIGINT) < {1 << 31} THEN 'A' ELSE 'B' END AS grp
        FROM events GROUP BY user_id
    ), pooled AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(y * y) AS DOUBLE) AS syy,
               CAST(SUM(x * y) AS DOUBLE) AS sxy
        FROM per_user
    ), arms AS (
        SELECT grp, COUNT(*) AS na,
               CAST(SUM(x) AS DOUBLE) AS sxa, CAST(SUM(y) AS DOUBLE) AS sya
        FROM per_user GROUP BY grp
    ), ab AS (
        SELECT a.na AS n_a, b.na AS n_b,
               a.sxa AS sxa, b.sxa AS sxb, a.sya AS sya, b.sya AS syb
        FROM arms a JOIN arms b ON a.grp = 'A' AND b.grp = 'B'
    ), th AS (
        SELECT n_a, n_b, sxa, sxb, sya, syb,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta,
               (n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS rho2
        FROM ab CROSS JOIN pooled
    )
    SELECT n_a, n_b,
           CAST(FLOOR(theta * 1000000) AS BIGINT) AS theta_fp6,
           CAST(FLOOR((sya / n_a - syb / n_b) * 1000000) AS BIGINT)
               AS diff_raw_fp6,
           CAST(FLOOR((sya / n_a - syb / n_b
                       - theta * (sxa / n_a - sxb / n_b)) * 1000000)
                AS BIGINT) AS diff_cuped_fp6,
           CAST(FLOOR((1.0 - rho2) * 1000000) AS BIGINT) AS var_keep_fp6
    FROM th
    """,
    ops=["stats-abtest-cuped", "sampling-hash", "A3"],
)
def ab_test_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013) for the hash-armed
    A/B readout: each user's pre-period value total is the covariate,
    θ = cov(x,y)/var(x) from pooled exact-decimal moments, and the
    treatment effect is re-estimated on y − θ·x — plus the variance
    kept (1 − ρ²), the headline number CUPED is adopted for. Two
    aggregations (per-user, then pooled + per-arm moments) and one
    1-row join; every cross-row sum is decimal-exact, the estimator
    is one fixed-order double expression."""
    from ..operators.sampling import hash_bucket

    e = _t(spark, sf_dir, "events")
    split = F.lit("2024-01-16").cast("timestamp")
    zero = F.lit(0).cast(DEC2)
    v = F.col("value").cast(DEC2)
    per_user = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < split, v).otherwise(zero))
        .cast(DEC2)
        .alias("x"),
        F.sum(F.when(F.col("ts") >= split, v).otherwise(zero))
        .cast(DEC2)
        .alias("y"),
    ).withColumn(
        "grp",
        F.when(
            hash_bucket(F.col("user_id"), "ab1") < F.lit(1 << 31), "A"
        ).otherwise("B"),
    )
    pooled = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    arms = per_user.groupBy("grp").agg(
        F.count(F.lit(1)).alias("na"),
        F.sum("x").cast("double").alias("sxa"),
        F.sum("y").cast("double").alias("sya"),
    )
    a = arms.filter(F.col("grp") == "A").select(
        F.col("na").alias("n_a"), F.col("sxa").alias("sxa_"),
        F.col("sya").alias("sya_"),
    )
    b = arms.filter(F.col("grp") == "B").select(
        F.col("na").alias("n_b"), F.col("sxa").alias("sxb_"),
        F.col("sya").alias("syb_"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    rho2 = ((n * sxy - sx * sy) * (n * sxy - sx * sy)) / (
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    diff_raw = F.col("sya_") / F.col("n_a") - F.col("syb_") / F.col("n_b")
    diff_x = F.col("sxa_") / F.col("n_a") - F.col("sxb_") / F.col("n_b")
    return (
        a.crossJoin(b)
        .crossJoin(F.broadcast(pooled))
        .select(
            "n_a",
            "n_b",
            F.floor(theta * F.lit(1e6)).cast("long").alias("theta_fp6"),
            F.floor(diff_raw * F.lit(1e6)).cast("long").alias("diff_raw_fp6"),
            F.floor((diff_raw - theta * diff_x) * F.lit(1e6))
            .cast("long")
            .alias("diff_cuped_fp6"),
            F.floor((F.lit(1.0) - rho2) * F.lit(1e6))
            .cast("long")
            .alias("var_keep_fp6"),
        )
    )


@register(
    "benford_order_totals",
    """
    WITH obs AS (
        SELECT CAST(substring(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                   AS VARCHAR), 1, 1) AS INTEGER) AS digit,
               COUNT(*) AS n_obs
        FROM orders GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(n_obs) AS BIGINT) AS n_total FROM obs
    ), axis AS (
        SELECT CAST(range AS INTEGER) AS digit FROM range(1, 10)
    )
    SELECT a.digit AS digit,
           CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs,
           CAST(FLOOR(CAST(n_total AS DOUBLE)
                * (ln((CAST(a.digit AS DOUBLE) + 1.0) / a.digit) / ln(10.0))
                * 1000) AS BIGINT) AS expected_fp3,
           CAST(FLOOR(
               (CAST(COALESCE(o.n_obs, 0) AS DOUBLE)
                  - CAST(n_total AS DOUBLE)
                    * (ln((CAST(a.digit AS DOUBLE) + 1.0) / a.digit)
                       / ln(10.0)))
               * (CAST(COALESCE(o.n_obs, 0) AS DOUBLE)
                  - CAST(n_total AS DOUBLE)
                    * (ln((CAST(a.digit AS DOUBLE) + 1.0) / a.digit)
                       / ln(10.0)))
               / (CAST(n_total AS DOUBLE)
                  * (ln((CAST(a.digit AS DOUBLE) + 1.0) / a.digit)
                     / ln(10.0)))
               * 1000000) AS BIGINT) AS chisq_contrib_fp6
    FROM axis a LEFT JOIN obs o ON o.digit = a.digit CROSS JOIN tot
    """,
    ops=["audit-benford", "A3"],
)
def benford_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals — the classic
    fabricated-numbers / corrupted-feed detector: observed leading-
    digit counts vs the Benford expectation N·log10(1+1/d), with the
    per-digit chi-square contribution. The first digit comes from the
    DECIMAL's canonical string (both engines render scale-2 decimals
    identically — no log10-at-power-boundary float edge); the
    expectation is computed, not a constant table, from the identical
    double expression in both engines. One scan aggregation + a 9-row
    digit axis + a 1-row total broadcast."""
    o = _t(spark, sf_dir, "orders")
    obs = (
        o.select(
            F.substring(_dec2("o_totalprice").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    tot = obs.agg(F.sum("n_obs").cast("long").alias("n_total"))
    axis = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    dd = F.col("digit").cast("double")
    expected = F.col("n_total").cast("double") * (
        F.log((dd + F.lit(1.0)) / F.col("digit")) / F.log(F.lit(10.0))
    )
    n_obs_d = F.col("n_obs").cast("double")
    return (
        axis.join(obs, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("long").alias("n_obs"),
            F.floor(expected * F.lit(1000)).cast("long").alias("expected_fp3"),
            F.floor(
                (F.coalesce(n_obs_d, F.lit(0.0)) - expected)
                * (F.coalesce(n_obs_d, F.lit(0.0)) - expected)
                / expected
                * F.lit(1e6)
            ).cast("long").alias("chisq_contrib_fp6"),
        )
    )


@register(
    "synthetic_sku_profile",
    """
    WITH base AS (
        SELECT range AS sku_id,
               CAST(('0x'||substring(md5('synth0:'||CAST(range AS VARCHAR)),1,8))
                    AS BIGINT) AS h
        FROM range(10000)
    ), dim AS (
        SELECT sku_id,
               'cat_' || CAST(h % 8 AS VARCHAR) AS category,
               CAST(100 + (h // 8) % 99900 AS BIGINT) AS price_cents,
               (h // 16) % 5 > 0 AS in_stock
        FROM base
    )
    SELECT category, in_stock,
           COUNT(*) AS n_skus,
           CAST(SUM(price_cents) AS BIGINT) AS total_cents,
           CAST(MIN(price_cents) AS BIGINT) AS min_cents,
           CAST(MAX(price_cents) AS BIGINT) AS max_cents
    FROM dim GROUP BY category, in_stock
    """,
    ops=["source-synthetic-generator", "S7", "A3"],
)
def synthetic_sku_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic-data generation at scale
    (sources.readers.synthetic_dim): 10k SKU rows materialized from
    spark.range + md5-derived attributes — executor-side, no driver
    list, and the SAME rows on any engine or partitioning (the
    md5-bucket primitive applied generatively; the oracle regenerates
    them independently in SQL and must agree bit-for-bit). The
    fixture source for tests/benchmarks when real data can't leave
    its enclave."""
    dim = readers_synthetic_dim(spark, 10_000)
    return dim.groupBy("category", "in_stock").agg(
        F.count(F.lit(1)).alias("n_skus"),
        F.sum("price_cents").cast("long").alias("total_cents"),
        F.min("price_cents").cast("long").alias("min_cents"),
        F.max("price_cents").cast("long").alias("max_cents"),
    )


@register(
    "pps_doc_sample",
    """
    WITH pre AS (
        SELECT doc_id, n_chars,
               CAST(SUM(n_chars) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum
        FROM documents
    ), tot AS (
        SELECT MAX(cum) AS total FROM pre
    )
    SELECT doc_id, n_chars, cum
    FROM pre CROSS JOIN tot
    WHERE cum // (total // 50) > (cum - n_chars) // (total // 50)
    """,
    ops=["sampling-pps-systematic", "global-prefix-sum"],
)
def pps_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS sample of ~50 documents, selection probability
    proportional to byte weight (operators.sampling.
    pps_systematic_sample): integer stride cuts over exact global
    prefix sums — a weighted sample that is bit-reproducible across
    engines, runs, and partitionings with ZERO floats (the
    deterministic-sampling family's answer to weighted draws; the
    md5-bucket samplers cover the uniform/Bernoulli side). Prefix
    sums come from the range-partitioned recipe, never a
    single-partition window; the oracle states the same line-cutting
    with a naive global cumsum."""
    d = _t(spark, sf_dir, "documents")
    out = sampling.pps_systematic_sample(
        d.select("doc_id", "n_chars"), [F.col("doc_id")], "n_chars", 50
    )
    return out.select("doc_id", "n_chars", F.col("__cum").alias("cum"))


@register(
    "snm_part_name_pairs",
    """
    WITH vocab AS (
        SELECT p_name AS name, COUNT(*) AS n_rows FROM part GROUP BY p_name
    ), r AS (
        SELECT name, n_rows,
               ROW_NUMBER() OVER (ORDER BY name) AS rk
        FROM vocab
    )
    SELECT a.name AS name_a, b.name AS name_b,
           levenshtein(a.name, b.name) AS distance,
           a.n_rows AS n_rows_a, b.n_rows AS n_rows_b
    FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + 3
    WHERE levenshtein(a.name, b.name) <= 3
    """,
    ops=["linkage-sorted-neighborhood", "global-rank-range-partition"],
)
def snm_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood record linkage over part names
    (operators.linkage.sorted_neighborhood_pairs, window 3, verify
    edit distance ≤ 3): the second classic blocking scheme next to
    the lossless length-band join — candidate volume |vocab|·window
    by construction. Ranks come from the range-partitioned
    global_rank; the oracle states the same neighborhood with a naive
    global ROW_NUMBER."""
    p = _t(spark, sf_dir, "part")
    return linkage.sorted_neighborhood_pairs(
        p, "p_name", window=3, max_distance=3
    )


@register(
    "tfidf_cosine_pairs",
    """
    WITH sht AS (
        SELECT doc_id, shingle, COUNT(*) AS tf FROM (
            SELECT doc_id, unnest(
                [array_to_string(list_slice(toks, i + 1, i + 3), ' ')
                 FOR i IN range(0, greatest(len(toks) - 3, 0) + 1)]
            ) AS shingle
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
                  FROM documents)
        ) WHERE length(shingle) > 0
        GROUP BY doc_id, shingle
    ), scal AS (
        SELECT COUNT(DISTINCT doc_id) AS n_docs FROM sht
    ), dfs AS (
        SELECT shingle, COUNT(*) AS df_t FROM sht GROUP BY shingle
    ), kept AS (
        SELECT shingle, df_t, n_docs FROM dfs CROSS JOIN scal
        WHERE df_t <= FLOOR(0.02 * n_docs)
    ), w AS (
        SELECT t.doc_id, t.shingle,
               CAST(FLOOR(t.tf * ln(CAST(k.n_docs AS DOUBLE) / k.df_t)
                          * 1000.0) AS BIGINT) AS wt
        FROM sht t JOIN kept k ON k.shingle = t.shingle
    ), norms AS (
        SELECT doc_id, CAST(SUM(wt * wt) AS BIGINT) AS norm2
        FROM w GROUP BY doc_id HAVING SUM(wt * wt) > 0
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               COUNT(*) AS n_common,
               CAST(SUM(a.wt * b.wt) AS BIGINT) AS dot
        FROM w a JOIN w b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY id_a, id_b
    )
    SELECT id_a, id_b, n_common,
           CAST(FLOOR(CAST(dot AS DOUBLE)
                / (sqrt(CAST(na.norm2 AS DOUBLE))
                   * sqrt(CAST(nb.norm2 AS DOUBLE)))
                * 1000000) AS BIGINT) AS cos_fp6
    FROM pairs
    JOIN norms na ON na.doc_id = id_a
    JOIN norms nb ON nb.doc_id = id_b
    WHERE CAST(FLOOR(CAST(dot AS DOUBLE)
                / (sqrt(CAST(na.norm2 AS DOUBLE))
                   * sqrt(CAST(nb.norm2 AS DOUBLE)))
                * 1000000) AS BIGINT) >= 500000
    """,
    ops=["dedup-tfidf-cosine", "set-similarity", "A-dedup"],
)
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (TF-IDF cosine ≥ 0.5) near-dup pairs over word-3-gram
    terms (operators.dedup.tfidf_cosine_pairs) — the sparse-vector
    complement of the Jaccard core: repeats and rarity matter, not
    just set overlap. Per-term weights are fixed-pointed to BIGINT
    before any cross-row sum, so dot products and norms are exact
    integers; the cosine is one fixed-order double per pair. Candidate
    shape identical to dedup_jaccard_df_capped (df cap bounds Σdf²)."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    return dedup.tfidf_cosine_pairs(d, n=3, max_df_frac=0.02)


@register(
    "ks_chars_by_lang",
    """
    WITH d AS (
        SELECT lang, source, n_chars FROM documents
        WHERE source IN ('src0', 'src1')
    ), vals AS (
        SELECT lang, n_chars AS x,
               SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS a,
               SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS b
        FROM d GROUP BY lang, x
    ), cum AS (
        SELECT lang,
               SUM(a) OVER w AS ca, SUM(b) OVER w AS cb
        FROM vals
        WINDOW w AS (PARTITION BY lang ORDER BY x
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), tot AS (
        SELECT lang, CAST(SUM(a) AS BIGINT) AS n_a,
               CAST(SUM(b) AS BIGINT) AS n_b
        FROM vals GROUP BY lang
    )
    SELECT c.lang AS lang, n_a, n_b,
           CAST(MAX(ABS(ca * n_b - cb * n_a)) AS BIGINT) AS d_num,
           CAST(FLOOR(CAST(MAX(ABS(ca * n_b - cb * n_a)) AS DOUBLE)
                      / (CAST(n_a AS DOUBLE) * n_b) * 1000000)
                AS BIGINT) AS d_fp6
    FROM cum c JOIN tot t ON t.lang = c.lang
    WHERE n_a > 0 AND n_b > 0
    GROUP BY c.lang, n_a, n_b
    """,
    ops=["stats-ks-two-sample", "drift-distribution", "A3"],
)
def ks_chars_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov test per language
    (operators.corpus_stats.two_sample_ks): does src0's document-
    length distribution differ from src1's? The statistic is held as
    the integer numerator max|c_a·n_b − c_b·n_a| — no float crosses a
    row boundary, so both engines agree bit-for-bit; the fp6 ratio is
    one final fixed-order scalar per language."""
    d = _t(spark, sf_dir, "documents")
    return corpus_stats.two_sample_ks(
        d, ["lang"], "source", "src0", "src1", "n_chars"
    )


@register(
    "multimodal_shard_plan",
    """
    WITH m AS (
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM documents
    ), pre AS (
        SELECT doc_id, n_bytes,
               CAST(SUM(n_bytes) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum
        FROM m
    )
    SELECT CAST((cum - n_bytes) // 16384 AS BIGINT) AS shard_id,
           COUNT(*) AS n_items,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM pre GROUP BY shard_id
    """,
    ops=["multimodal-shard-plan", "global-prefix-sum", "A3"],
)
def multimodal_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-budgeted shard assignment for binary payload export (the
    write-planning step of a multimodal corpus build: contiguous
    ~16 KB shards in a deterministic id order, so every writer knows
    its shard boundaries without coordination). The global running
    byte total comes from operators.slicing.global_prefix_sum —
    range-repartition + per-partition running sums + broadcast
    partition-total offsets, no single-partition window; the oracle
    states the same plan with a naive global window. Payloads are the
    documents_as_media adapter's opaque binary column; only lengths
    flow through the plan (ids+sizes shuffle, payload bytes stay at
    rest — the multimodal module's narrow-shuffle discipline)."""
    d = _t(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(d)
    sized = media.select(
        F.col("media_id").alias("doc_id"),
        F.length("payload").cast("long").alias("n_bytes"),
    )
    pre = slicing.global_prefix_sum(
        sized, [F.col("doc_id")], "n_bytes", "cum", 32
    )
    shard = F.expr("(cum - n_bytes) div 16384").cast("long")
    return pre.groupBy(shard.alias("shard_id")).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def _lpa_modularity_oracle(rounds: int = 2) -> str:
    """Modularity readout over the shared LPA CTE chain: annotate the
    symmetrized edges with both endpoints' final labels, then the
    exact-integer per-community terms T·W_c − d_c² (see
    operators.graph.community_modularity_terms)."""
    ctes = _lpa_ctes(rounds)
    return (
        ctes
        + f""", ann AS (
        SELECT e.u, e.v, e.w, lu.label AS lu, lv.label AS lv
        FROM und e
        JOIN l{rounds} lu ON lu.node = e.u
        JOIN l{rounds} lv ON lv.node = e.v
    ), t AS (
        SELECT CAST(SUM(w) AS BIGINT) AS t FROM ann
    ), intra AS (
        SELECT lu AS label, CAST(SUM(w) AS BIGINT) AS w_in
        FROM ann WHERE lu = lv GROUP BY lu
    ), deg AS (
        SELECT lu AS label, CAST(SUM(w) AS BIGINT) AS degree
        FROM ann GROUP BY lu
    )
    SELECT d.label AS comm_label,
           CAST(COALESCE(i.w_in, 0) AS BIGINT) AS w_in,
           d.degree,
           CAST(t.t * COALESCE(i.w_in, 0) - d.degree * d.degree
                AS BIGINT) AS contrib_scaled
    FROM deg d LEFT JOIN intra i ON i.label = d.label CROSS JOIN t
    """
    )


@register(
    "trade_community_modularity",
    _lpa_modularity_oracle(2),
    ops=["graph-modularity", "graph-label-propagation"],
)
def trade_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-quality readout for the LPA communities
    (operators.graph.community_modularity_terms): per-community
    modularity contributions in the EXACT-INTEGER scaled form
    T·W_c − d_c² (T = total symmetrized weight) — community detection
    plus its own quality metric, zero float accumulation anywhere, so
    the score is bit-identical on any engine or partitioning."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        # edges feeds LPA's symmetrize AND the modularity annotate —
        # stage it so the four-table fact pipeline runs once (r12
        # rescan audit: unstaged, the plan carried 42 scans per table)
        .localCheckpoint()
    )
    labels = graph.label_propagation_rounds(edges, rounds=2)
    terms = graph.community_modularity_terms(edges, labels)
    return terms.select(
        F.col("label").cast("long").alias("comm_label"),
        "w_in",
        "degree",
        "contrib_scaled",
    )


@register(
    "nation_trade_communities",
    _lpa_oracle(2),
    ops=["graph-label-propagation", "iterative"],
)
def nation_trade_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted label propagation communities over the nation trade
    graph (operators.graph.label_propagation_rounds, 2 synchronous
    rounds): each nation adopts the neighbor label with the largest
    incident trade weight, ties to the smallest label — the
    deterministic-update discipline that makes LPA (whose classic
    statement leaves ties and ordering unspecified) reproducible
    across engines. Completes the graph family next to connected
    components (reachability), k-core (density), PageRank
    (centrality), and triangles (cohesion)."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    labels = graph.label_propagation_rounds(edges, rounds=2)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    return (
        labels.join(sizes, "label")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("node") == F.col("n_nationkey"),
        )
        .select(
            "n_name",
            F.col("label").cast("long").alias("comm_label"),
            F.col("n").cast("long").alias("comm_size"),
        )
    )


@register(
    "global_rank_orders",
    """
    SELECT o_orderkey,
           ROW_NUMBER() OVER (ORDER BY CAST(o_totalprice AS DECIMAL(18,2)),
                              o_orderkey) AS global_rank
    FROM orders
    """,
    ops=["global-rank-range-partition", "§2.8"],
)
def global_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact whole-table global rank WITHOUT the single-partition
    window the naive ROW_NUMBER() OVER (ORDER BY …) plans
    (operators.slicing.global_rank): range-repartition on the order
    key (unique via tiebreaker, so sampled boundaries cannot split a
    key), per-partition local ranks, and broadcast cumulative offsets.
    The oracle IS the naive global row_number — same answer, scalable
    plan. The offset window runs over the ~32-row partition-count
    relation, not the data."""
    o = _t(spark, sf_dir, "orders")
    ranked = slicing.global_rank(
        o.select("o_orderkey", _dec2("o_totalprice").alias("price")),
        [F.col("price"), F.col("o_orderkey")],
        "global_rank",
        32,
    )
    return ranked.select("o_orderkey", "global_rank")


@register(
    "distinct_rollup_hierarchy",
    """
    WITH base AS (
        SELECT event_type,
               CAST(date_trunc('week', ts) AS DATE) AS wk,
               user_id
        FROM events
    ), by_type AS (
        SELECT 'event_type' AS dim, event_type AS key,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
        FROM base GROUP BY event_type
    ), by_week AS (
        SELECT 'week' AS dim, CAST(wk AS VARCHAR) AS key,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
        FROM base GROUP BY wk
    ), total AS (
        SELECT 'all' AS dim, 'all' AS key,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
        FROM base
    )
    SELECT dim, key, exact_users,
           TRUE AS sketch_within_5pct,
           CAST(0 AS BIGINT) AS err_permille_over_bound
    FROM (SELECT * FROM by_type UNION ALL
          SELECT * FROM by_week UNION ALL
          SELECT * FROM total)
    """,
    ops=["approx-distinct-mergeable", "rollup-cube", "A3"],
)
def distinct_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch ROLLUP: one set of base HLL sketches at the
    (event_type, week) grain serves every coarser distinct-user
    readout — per type (merging weeks), per week (merging types), and
    the grand total — without ever re-scanning raw events. This is
    the cube problem distinct counts break (they don't add across
    overlapping child sets; users span weeks and types), and exactly
    what sketch mergeability buys at 100 TB: the base aggregation is
    one pass, every rollup level is a tiny union of sketches. Oracle
    strategy: exact twins + TRUE bound literals (the
    rolling_distinct_users pattern — DuckDB's HLL is a different
    implementation); Spark emits its own |est−exact| ≤ 5% verdict
    (lgK=14 ⇒ ~6σ) and a permille-overshoot diagnostic."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.date_trunc("week", "ts").cast("date").alias("wk"),
        "user_id",
    )
    base_sk = base.groupBy("event_type", "wk").agg(
        F.hll_sketch_agg("user_id", 14).alias("sk")
    )
    def level(grp_cols, dim, key_col):
        sk = (
            base_sk.groupBy(*grp_cols)
            if grp_cols
            else base_sk.groupBy(F.lit(1).alias("__g"))
        ).agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        ex = (
            base.groupBy(*grp_cols)
            if grp_cols
            else base.groupBy(F.lit(1).alias("__g"))
        ).agg(F.countDistinct("user_id").cast("long").alias("exact_users"))
        j = ex.join(sk, grp_cols if grp_cols else ["__g"])
        rel = F.abs(F.col("est") - F.col("exact_users")) / F.col("exact_users")
        return j.select(
            F.lit(dim).alias("dim"),
            key_col.alias("key"),
            "exact_users",
            (rel <= F.lit(0.05)).alias("sketch_within_5pct"),
            F.greatest(F.lit(0), F.ceil((rel - 0.05) * 1000))
            .cast("long")
            .alias("err_permille_over_bound"),
        )
    return (
        level(["event_type"], "event_type", F.col("event_type"))
        .unionByName(level(["wk"], "week", F.col("wk").cast("string")))
        .unionByName(level([], "all", F.lit("all")))
    )


@register(
    "session_pattern_match",
    """
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               substring(event_type, 1, 1) AS ini
        FROM events
    ), flagged AS (
        SELECT user_id, event_id, us, ini,
               CASE WHEN LAG(us) OVER w IS NULL
                         OR us - LAG(us) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), sess AS (
        SELECT user_id, us, event_id, ini,
               SUM(new_session) OVER (PARTITION BY user_id
                                      ORDER BY us, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS sid
        FROM flagged
    ), strs AS (
        SELECT user_id, sid,
               string_agg(ini, '' ORDER BY us, event_id) AS trace
        FROM sess GROUP BY user_id, sid
    )
    SELECT user_id,
           COUNT(*) AS n_sessions,
           CAST(SUM(CASE WHEN regexp_matches(trace, 'v.*c.*p')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
    FROM strs GROUP BY user_id
    """,
    ops=["sessionization", "pattern-match-recognize", "A3"],
)
def session_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern matching WITHIN
    sessions: sessionize by 30-min gap (the lag-flag + running-sum
    session id), assemble each session's event trace as an ordered
    initial string (array_sort over (ts, event_id, initial) structs —
    deterministic, no collect_list order assumption), and count
    sessions whose trace contains the view→…→click→…→purchase
    subsequence as one regex per session row. Two windows and two
    aggregations, all partitioned by user — the regex replaces a
    3-way self-join chain, and the trace row is bounded by session
    length."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.substring("event_type", 1, 1).alias("ini"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = e.withColumn(
        "new_session",
        F.when(
            F.lag("us").over(w).isNull()
            | ((F.col("us") - F.lag("us").over(w)) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn("sid", F.sum("new_session").over(run))
    strs = (
        sess.groupBy("user_id", "sid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("us", "event_id", "ini"))
                    ),
                    lambda s: s["ini"],
                ),
                "",
            ).alias("trace")
        )
    )
    return strs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(
            F.when(F.col("trace").rlike("v.*c.*p"), 1).otherwise(0)
        ).cast("long").alias("n_matched"),
    )


@register(
    "psi_price_drift",
    """
    WITH v AS (
        SELECT CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                    THEN 'a' ELSE 'b' END AS period,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS x
        FROM orders
    ), mm AS (
        SELECT MIN(x) AS lo, MAX(x) AS hi FROM v
    ), binned AS (
        SELECT period,
               LEAST(CAST(FLOOR((x - lo) / ((hi - lo) / 10)) AS INTEGER), 9)
                   AS bin
        FROM v, mm
    ), counts AS (
        SELECT period, bin, COUNT(*) AS n FROM binned GROUP BY period, bin
    ), tot AS (
        SELECT period, CAST(SUM(n) AS BIGINT) AS t FROM counts GROUP BY period
    ), ab AS (
        SELECT COALESCE(ca.bin, cb.bin) AS bin,
               COALESCE(ca.n, 0) AS n_a, COALESCE(cb.n, 0) AS n_b,
               ta.t AS t_a, tb.t AS t_b
        FROM (SELECT * FROM counts WHERE period = 'a') ca
        FULL JOIN (SELECT * FROM counts WHERE period = 'b') cb
          ON cb.bin = ca.bin
        CROSS JOIN (SELECT t FROM tot WHERE period = 'a') ta
        CROSS JOIN (SELECT t FROM tot WHERE period = 'b') tb
    )
    SELECT bin, n_a, n_b,
           CASE WHEN n_a > 0 AND n_b > 0 THEN
               CAST(FLOOR(
                   (CAST(n_a AS DOUBLE) / t_a - CAST(n_b AS DOUBLE) / t_b)
                   * ln((CAST(n_a AS DOUBLE) / t_a)
                        / (CAST(n_b AS DOUBLE) / t_b))
                   * 1000000000) AS BIGINT) END AS contrib_fp9
    FROM ab
    """,
    ops=["drift-psi", "analyze-histogram", "A3"],
)
def psi_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two order periods (the
    tabular drift monitor every feature pipeline runs before trusting
    a model refresh): 10 equi-width bins from a 1-row global min/max
    broadcast, per-period bin shares, and the per-bin PSI contribution
    (pa − pb)·ln(pa/pb) floored to fp9 (NULL for one-sided bins — the
    standard undefined case, surfaced rather than epsilon-fudged).
    Two scalar broadcasts and one aggregation; the bin expression is
    map-side."""
    o = _t(spark, sf_dir, "orders")
    v = o.select(
        F.when(
            F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), "a"
        ).otherwise("b").alias("period"),
        _dec2("o_totalprice").cast("double").alias("x"),
    )
    mm = v.agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    binc = F.least(
        F.floor(
            (F.col("x") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / 10)
        ).cast("int"),
        F.lit(9),
    )
    counts = (
        v.crossJoin(F.broadcast(mm))
        .groupBy("period", binc.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = counts.groupBy("period").agg(F.sum("n").cast("long").alias("t"))
    ca = counts.filter(F.col("period") == "a").select(
        F.col("bin").alias("bin_a"), F.col("n").alias("na")
    )
    cb = counts.filter(F.col("period") == "b").select(
        F.col("bin").alias("bin_b"), F.col("n").alias("nb")
    )
    ta = tot.filter(F.col("period") == "a").select(F.col("t").alias("t_a"))
    tb = tot.filter(F.col("period") == "b").select(F.col("t").alias("t_b"))
    ab = (
        ca.join(cb, F.col("bin_b") == F.col("bin_a"), "full")
        .select(
            F.coalesce(F.col("bin_a"), F.col("bin_b")).alias("bin"),
            F.coalesce(F.col("na"), F.lit(0)).alias("n_a"),
            F.coalesce(F.col("nb"), F.lit(0)).alias("n_b"),
        )
        .crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
    )
    pa = F.col("n_a").cast("double") / F.col("t_a")
    pb = F.col("n_b").cast("double") / F.col("t_b")
    return ab.select(
        "bin",
        "n_a",
        "n_b",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.floor((pa - pb) * F.log(pa / pb) * F.lit(1e9)).cast("long"),
        ).alias("contrib_fp9"),
    )


@register(
    "approx_quantile_report",
    """
    WITH j AS (
        SELECT n_name, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
               o_orderkey
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
    ), r AS (
        SELECT n_name, price,
               ROW_NUMBER() OVER (PARTITION BY n_name
                                  ORDER BY price, o_orderkey) AS rn,
               COUNT(*) OVER (PARTITION BY n_name) AS n
        FROM j
    ), ranks AS (
        SELECT n_name, n,
               (n + 1) // 2 AS mid,
               GREATEST(1, (n + 1) // 2 - (n // 200 + 1)) AS lo_rank,
               LEAST(n, (n + 1) // 2 + (n // 200 + 1)) AS hi_rank
        FROM r GROUP BY n_name, n
    )
    SELECT k.n_name, k.n AS n_orders,
           CAST(MAX(CASE WHEN r.rn = k.mid THEN r.price END) AS DOUBLE)
               AS exact_p50,
           TRUE AS approx_within_rank_bound
    FROM ranks k JOIN r ON r.n_name = k.n_name
    GROUP BY k.n_name, k.n
    """,
    ops=["approx-quantile-sketch", "stats-quantile", "A3"],
)
def approx_quantile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch audit, the exact-twin + bound-flag oracle
    pattern (same strategy as rolling_distinct_users/approx_sketches —
    DuckDB cannot reproduce Spark's KLL-style percentile_approx
    internals, so the oracle carries the exact answer and a TRUE
    literal while Spark emits its own in-bound verdict): per nation,
    the exact rank-(n+1)/2 median under a deterministic total order,
    plus a flag that percentile_approx(price, 0.5, 1000)'s value sits
    between the exact values at ranks mid ± (n//200 + 1) — a 5×-slack
    widening of the sketch's guaranteed n/1000 rank error, converting
    the rank bound to a value bound entirely in exact integers and
    decimal compares. The sketch side is what survives 100 TB: one
    pass, mergeable partials, no per-group sort; the exact twin's
    per-group window is the verification harness, not the plan."""
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
        .select("n_name", _dec2("o_totalprice").alias("price"), "o_orderkey")
    )
    w = Window.partitionBy("n_name").orderBy("price", "o_orderkey")
    kw = Window.partitionBy("n_name")
    r = j.select(
        "n_name",
        "price",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(kw).alias("n"),
    )
    mid = F.expr("(n + 1) div 2")
    slack = F.expr("n div 200 + 1")
    picked = r.groupBy("n_name", "n").agg(
        F.max(F.when(F.col("rn") == mid, F.col("price"))).alias("exact_p50"),
        F.max(
            F.when(F.col("rn") == F.greatest(F.lit(1), mid - slack), F.col("price"))
        ).alias("v_lo"),
        F.max(
            F.when(F.col("rn") == F.least(F.col("n"), mid + slack), F.col("price"))
        ).alias("v_hi"),
    )
    approx = j.groupBy("n_name").agg(
        F.percentile_approx("price", 0.5, 1000).alias("p50_sketch")
    )
    return (
        picked.join(approx, "n_name")
        .select(
            "n_name",
            F.col("n").alias("n_orders"),
            F.col("exact_p50").cast("double").alias("exact_p50"),
            (
                (F.col("p50_sketch") >= F.col("v_lo"))
                & (F.col("p50_sketch") <= F.col("v_hi"))
            ).alias("approx_within_rank_bound"),
        )
    )


__all__ = [n for n in globals() if not n.startswith("__")]
