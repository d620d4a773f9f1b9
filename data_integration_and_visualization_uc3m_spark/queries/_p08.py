"""Query registry — part 8/8 of the mechanical queries.py split.

Contiguous slice of the original module; see queries/_core.py for
the chaining scheme. Do not reorder across parts — registration
order is the driver-window rotation order.
"""

from __future__ import annotations

from ._p07 import *  # noqa: F401,F403



@register(
    "wav_autocorr_report",
    """
    WITH src AS (
        SELECT doc_id,
               doc_id % 193 + 8 AS ns,
               500 + (doc_id % 997) * 29 AS amp,
               1 + doc_id % 37 AS step,
               doc_id % 101 AS phase
        FROM documents
    ), decoded AS (
        SELECT doc_id, ns,
               list_transform(range(0, ns),
                              i -> (i * step + phase) % (2 * amp) - amp)
                   AS s
        FROM src
    ), acc AS (
        SELECT doc_id AS media_id,
               CAST(ns AS BIGINT) AS n_samples,
               CAST(list_sum(list_transform(s, x -> x * x)) AS BIGINT)
                   AS r0,
               CAST(list_sum(list_transform(range(1, ns),
                    i -> s[i] * s[i + 1])) AS BIGINT) AS r1,
               CAST(list_sum(list_transform(range(1, ns - 1),
                    i -> s[i] * s[i + 2])) AS BIGINT) AS r2,
               CAST(list_sum(list_transform(range(1, ns - 3),
                    i -> s[i] * s[i + 4])) AS BIGINT) AS r4
        FROM decoded
    )
    SELECT media_id, n_samples, r0, r1, r2, r4,
           CASE WHEN r0 > 0 THEN r1 * 1000 // r0 ELSE 0 END AS ac1_milli,
           CASE WHEN r0 > 0 THEN r2 * 1000 // r0 ELSE 0 END AS ac2_milli,
           CASE WHEN r0 > 0 THEN r4 * 1000 // r0 ELSE 0 END AS ac4_milli
    FROM acc
    """,
    ops=["multimodal-binary", "audio-dsp", "periodicity"],
)
def wav_autocorr_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio periodicity screening on real bytes: the same synthesized
    PCM WAVs as wav_pcm_stats, samples decoded BACK FROM THE PAYLOAD,
    reduced to exact integer autocorrelations at lags 1/2/4 plus
    truncating-division normalized milli ratios
    (multimodal.wav_pcm_autocorr) — the loop/beep/tone detector a
    100 TB audio curation pass runs per clip. The oracle restates the
    sums on the sawtooth's closed form; negative r_L values exercise
    the cross-engine truncating-division contract (div ↔ //) that the
    theil_sen fix pinned. In-row transform/aggregate only — no
    explode, per-clip cost bounded by the clip."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    i = F.col("doc_id")
    src = d.select(
        i.alias("media_id"),
        F.lit(8000).cast("long").alias("sample_rate_hz"),
        (i % 193 + 8).alias("n_samples"),
        (F.lit(500) + (i % 997) * 29).alias("amp"),
        (F.lit(1) + i % 37).alias("step"),
        (i % 101).alias("phase"),
    )
    media = multimodal.synthesize_wav_pcm(src)
    return multimodal.wav_pcm_autocorr(media, lags=(1, 2, 4))


@register(
    "supplier_adamic_adar_links",
    """
    WITH ps AS (
        SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ), deg AS (
        SELECT p, COUNT(*) AS d FROM ps GROUP BY p
    ), keep AS (
        SELECT p, d FROM deg WHERE d BETWEEN 2 AND 50
    ), capped AS (
        SELECT ps.p, ps.s, k.d FROM ps JOIN keep k ON k.p = ps.p
    ), pairs AS (
        SELECT a.s AS s1, b.s AS s2, a.d
        FROM capped a JOIN ps b ON b.p = a.p AND a.s < b.s
    ), scored AS (
        SELECT s1, s2,
               CAST(COUNT(*) AS BIGINT) AS n_common,
               CAST(SUM(CAST(FLOOR(1000000 / ln(d)) AS BIGINT))
                    AS BIGINT) AS aa_fp6
        FROM pairs GROUP BY s1, s2
    )
    SELECT CAST(s1 AS BIGINT) AS s1, CAST(s2 AS BIGINT) AS s2,
           n_common, aa_fp6
    FROM scored
    ORDER BY aa_fp6 DESC, s1, s2 LIMIT 20
    """,
    ops=["graph-link-prediction", "adamic-adar", "co-occurrence"],
)
def supplier_adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the supplier–part bipartite graph:
    Adamic-Adar scores for supplier pairs via common parts,
    ``AA(s1,s2) = Σ_p floor(1e6 / ln(deg_p))`` — the co-occurrence
    recommendation primitive ("suppliers like yours also carry…"),
    scored with per-neighbor floored fixed-point terms so the integer
    sum is order-free and hash-exact (floor(1e6/ln(d)) is the same
    IEEE double on both engines for integer d). Degree-capped pair
    generation (2 ≤ deg_p ≤ 50, the df-cap lesson from
    jaccard_pairs_df_capped): a ubiquitous part would contribute
    quadratic pairs and near-zero per-pair signal, so it is excluded
    BEFORE the pair explode — the cap is what keeps this shape
    runnable on a billion-edge bipartite graph. The cap sits BELOW the
    self-join in the physical plan (VERDICT r10 fix): the BUILD side
    ``a = ps ⋈ keep`` is capped before the pair join, so Catalyst
    cannot float the cap above the explode — a degree-1M part
    contributes ZERO build rows, and the join emits nothing for it
    regardless of the probe side (which stays the raw edge relation:
    its rows for capped-out parts die in the hash probe without ever
    pairing, and for any p in keep both relations hold identical rows,
    so the output is unchanged). JOIN STRATEGY is pinned to
    SHUFFLE_HASH on both joins: every relation here (edges, degrees,
    capped edges) is keyed on p, so shuffled hash joins co-partition
    the whole chain on p with no sort and NO BROADCAST of the edge
    relation — left to itself AQE broadcast the ~580k-row distinct
    edge relation TWICE at sf0.1 (driver collect + hash build per
    copy: 7.9 s vs 2.2 s with the hints; and an edge broadcast is
    exactly what cannot scale to a billion-edge graph, while shuffled
    hash on p is the plan a 1000-executor run wants anyway).
    ``tools/plan_audit.py`` enforces the cap ordering class (rule
    ``cap_below_self_join``). One distinct, one degree agg, one
    partkey-keyed pair join with the capped build side, one pair agg,
    TakeOrdered top-20."""
    l = _t(spark, sf_dir, "lineitem")
    # the distinct edge relation feeds the degree agg and both join
    # sides — measured at sf0.1: materializing it once is COST-NEUTRAL
    # (the ~5M-row checkpoint write equals the saved shuffles), so it
    # stays lazy; the pair join dominates and is bounded by the cap
    ps = l.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    deg = ps.groupBy("p").agg(F.count(F.lit(1)).alias("d"))
    keep = deg.filter((F.col("d") >= 2) & (F.col("d") <= 50))
    # cap applied to the edge relation BEFORE the pair join (build
    # side); the probe side needs no cap for correctness or safety —
    # the join output is keyed on capped parts only
    a = ps.join(keep.hint("shuffle_hash"), "p").select(
        F.col("p"), F.col("s").alias("s1"), F.col("d")
    )
    b = ps.select(
        F.col("p").alias("pb"), F.col("s").alias("s2")
    ).hint("shuffle_hash")
    pairs = a.join(
        b, (F.col("p") == F.col("pb")) & (F.col("s1") < F.col("s2"))
    ).select("s1", "s2", "d")
    scored = pairs.groupBy("s1", "s2").agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        F.sum(F.floor(F.lit(1000000.0) / F.log(F.col("d"))).cast("long"))
        .cast("long")
        .alias("aa_fp6"),
    )
    return (
        scored.select(
            F.col("s1").cast("long").alias("s1"),
            F.col("s2").cast("long").alias("s2"),
            "n_common",
            "aa_fp6",
        )
        .orderBy(F.col("aa_fp6").desc(), "s1", "s2")
        .limit(20)
    )


# Chat-transcript generator (shared Spark-side): per doc d the
# transcript has 1 + d%3 user/assistant pairs, a system turn unless
# d%5 == 0, an alternation-breaking doubled user turn when d%7 == 0,
# and an empty first-user content when d%11 == 0. Candidate turns
# carry an `inc` flag and are filtered — no empty-array type-coercion
# games — then serialized with to_json. The LINT then parses that JSON
# back and derives every flag from the PARSED value, so the oracle
# (which restates the flags on the modular closed form) verifies the
# whole build→serialize→parse→validate round trip.
_CHAT_MSGS_SQL = """
    transform(filter(array(
        named_struct('inc', doc_id % 5 <> 0, 'role', 'system',
                     'content', concat('sys', doc_id)),
        named_struct('inc', true, 'role', 'user',
                     'content', CASE WHEN doc_id % 11 = 0 THEN ''
                                ELSE concat('m', doc_id, '_u1') END),
        named_struct('inc', doc_id % 7 = 0, 'role', 'user',
                     'content', concat('m', doc_id, '_x')),
        named_struct('inc', true, 'role', 'assistant',
                     'content', concat('m', doc_id, '_a1')),
        named_struct('inc', doc_id % 3 >= 1, 'role', 'user',
                     'content', concat('m', doc_id, '_u2')),
        named_struct('inc', doc_id % 3 >= 1, 'role', 'assistant',
                     'content', concat('m', doc_id, '_a2')),
        named_struct('inc', doc_id % 3 = 2, 'role', 'user',
                     'content', concat('m', doc_id, '_u3')),
        named_struct('inc', doc_id % 3 = 2, 'role', 'assistant',
                     'content', concat('m', doc_id, '_a3'))
    ), m -> m.inc), m -> named_struct('role', m.role,
                                      'content', m.content))
"""


# MMR oracle, generated host-side: the same pool (nano-floored
# relevance TakeOrdered) and the same k−1 greedy argmax stages, each a
# correlated MAX over the selections so far — unrolled CTEs, integer
# MMR scores, id tiebreaks.
def _mmr_cos_sql(a: str, b: str) -> str:
    # lambda vars deliberately NOT named like any table alias in the
    # generated CTEs — DuckDB binds `zp[1]` on the zip struct, but a
    # lambda var shadowing a table alias turns `alias.col` references
    # inside the same expression into struct_extract binder errors
    return (
        f"list_sum(list_transform(list_zip({a}, {b}),"
        " zp -> CAST(zp[1] AS DOUBLE) * CAST(zp[2] AS DOUBLE)))"
        f" / (sqrt(list_sum(list_transform({a},"
        " zx -> CAST(zx AS DOUBLE) * CAST(zx AS DOUBLE))))"
        f" * sqrt(list_sum(list_transform({b},"
        " zx -> CAST(zx AS DOUBLE) * CAST(zx AS DOUBLE)))))"
    )


def _mmr_oracle_sql(k: int = 5, pool: int = 20, lam: int = 700) -> str:
    stages = [
        """sel1 AS (
        SELECT CAST(1 AS BIGINT) AS pick_order, vec_id, embedding,
               rel_nano
        FROM pool ORDER BY rel_nano DESC, vec_id LIMIT 1
    ), seltot1 AS (SELECT * FROM sel1)"""
    ]
    for r in range(2, k + 1):
        prev = f"seltot{r - 1}"
        sim = _mmr_cos_sql("p.embedding", "sl.embedding")
        stages.append(f"""sel{r} AS (
        SELECT CAST({r} AS BIGINT) AS pick_order, p.vec_id, p.embedding,
               p.rel_nano
        FROM pool p
        WHERE p.vec_id NOT IN (SELECT vec_id FROM {prev})
        ORDER BY {lam} * p.rel_nano - {1000 - lam} * (
            SELECT MAX(CAST(FLOOR({sim} * 1000000000) AS BIGINT))
            FROM {prev} sl) DESC, p.vec_id
        LIMIT 1
    ), seltot{r} AS (
        SELECT * FROM {prev} UNION ALL SELECT * FROM sel{r}
    )""")
    rel = _mmr_cos_sql("e.embedding", "q.qv")
    body = ",\n    ".join(stages)
    return f"""
    WITH q AS (
        SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
    ), pool AS (
        SELECT e.vec_id, e.embedding,
               CAST(FLOOR({rel} * 1000000000) AS BIGINT) AS rel_nano
        FROM embeddings e, q
        WHERE list_sum(list_transform(e.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
        ORDER BY rel_nano DESC, vec_id LIMIT {pool}
    ),
    {body}
    SELECT pick_order, CAST(vec_id AS BIGINT) AS vec_id, rel_nano
    FROM seltot{k} ORDER BY pick_order
    """


@register(
    "mmr_diverse_topk",
    _mmr_oracle_sql(k=5, pool=20, lam=700),
    ops=["retrieval-diversify", "mmr", "similarity-rerank"],
)
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified retrieval under the oracle gate: Maximal Marginal
    Relevance over the embeddings table (similarity.mmr_diverse_topk_rel
    — λ=0.7, pool 20, k 5). The distributed stage is the corpus
    relevance TakeOrdered; the greedy diversification runs k−1 tiny
    broadcast rounds over the localCheckpointed pool. Every score is a
    floored nano fixed-point integer, so the PICK SEQUENCE ITSELF is
    hash-checked against the oracle's unrolled greedy — rare for a
    re-ranking heuristic. The anti-redundancy behavior this encodes
    (don't fill a context window with near-duplicates) is the
    retrieval-side twin of SemDeDup's training-side dedup."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    return similarity.mmr_diverse_topk_rel(
        e, q, k=5, pool=20, lam_milli=700
    ).orderBy("pick_order")


@register(
    "corpus_build_v4_e2e",
    """
    WITH base AS (
        SELECT doc_id, lang, doc_id % 60 AS k FROM documents
    ), valid AS (
        SELECT doc_id, lang, k FROM base
        WHERE k % 7 <> 0 AND k % 11 <> 0
    ), surv AS (
        SELECT MIN(doc_id) AS doc_id, k FROM valid GROUP BY k
    ), t AS (
        SELECT s.doc_id, b.lang,
               CAST((CASE WHEN s.k % 5 <> 0
                          THEN 3 + length(CAST(s.k AS VARCHAR))
                          ELSE 0 END)
                    + (2 * (1 + s.k % 3))
                      * (4 + length(CAST(s.k AS VARCHAR)))
                    + 4 * ((CASE WHEN s.k % 5 <> 0 THEN 1 ELSE 0 END)
                           + 2 * (1 + s.k % 3))
                    AS BIGINT) AS tokens
        FROM surv s JOIN base b ON b.doc_id = s.doc_id
    ), o AS (
        SELECT doc_id, lang, tokens,
               CAST(SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id)
                    - tokens AS BIGINT) AS off
        FROM t
    ), per AS (
        SELECT lang,
               COUNT(*) AS n_transcripts,
               CAST(SUM(tokens) AS BIGINT) AS total_tokens,
               CAST(MAX(off + tokens) AS BIGINT) AS stream_len
        FROM o GROUP BY lang
    )
    SELECT lang, CAST(n_transcripts AS BIGINT) AS n_transcripts,
           total_tokens,
           CAST((stream_len + 511) // 512 AS BIGINT) AS n_seqs,
           CAST(((stream_len + 511) // 512) * 512 - stream_len
                AS BIGINT) AS pad_tokens
    FROM per ORDER BY lang
    """,
    ops=["corpus-build-e2e", "chat-template-lint", "dedup-exact",
         "pack-contiguous", "sft-data-validation"],
)
def corpus_build_v4_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus build v4 — the SFT-TRANSCRIPT pipeline composing the
    round-10 surfaces in ONE lazy plan: build chat transcripts
    (content keyed by doc_id % 60, so byte-identical duplicates exist
    by construction) → serialize to JSON → PARSE BACK and lint
    (text.chat_template_lint — invalid transcripts dropped on the
    parsed flags, never the generator's) → exact-dedup surviving
    transcripts on their BYTES (min-id survivor per chat_json) →
    token-estimate each survivor FROM ITS PARSED CONTENT (Σ content
    lengths + 4/turn) → contiguous 512-budget packing per language →
    per-lang transcript/token/sequence/pad budget. The oracle
    restates every stage on the modular closed form, so the hash
    match proves the full validate→dedup→count→pack chain. Shuffles:
    one dedup group on the JSON bytes + one per-lang window — the
    same count a 100 TB SFT data build would pay."""
    d = _t(spark, sf_dir, "documents")
    base = d.select("doc_id", "lang", (F.col("doc_id") % 60).alias("k"))
    tr = base.select(
        "doc_id",
        "lang",
        F.to_json(
            F.expr(_CHAT_MSGS_SQL.replace("doc_id", "k"))
        ).alias("chat_json"),
    )
    flags = text.chat_template_lint(tr, json_col="chat_json")
    valid_ids = flags.filter(
        F.col("alternation_ok")
        & F.col("no_empty_content")
        & F.col("roles_ok")
        & F.col("ends_with_assistant")
    ).select("doc_id")
    surv = (
        tr.join(valid_ids, "doc_id")
        .groupBy("chat_json")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    kept = surv.join(tr.select("doc_id", "lang"), "doc_id")
    parsed = kept.select(
        "doc_id",
        "lang",
        F.from_json(
            "chat_json", "array<struct<role:string,content:string>>"
        ).alias("_m"),
    )
    toks = parsed.select(
        "doc_id",
        "lang",
        (
            F.aggregate(
                F.transform("_m", lambda m: F.length(m["content"]).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            + 4 * F.size("_m")
        ).cast("long").alias("tokens"),
    )
    packed = packing.pack_contiguous(
        toks, budget=512, tokens_col="tokens", shard_col="lang"
    )
    per = packed.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_transcripts"),
        F.sum("tokens").cast("long").alias("total_tokens"),
        F.max(F.col("seq_offset") + F.col("tokens"))
        .cast("long")
        .alias("stream_len"),
    )
    return per.select(
        "lang",
        "n_transcripts",
        "total_tokens",
        F.expr("(stream_len + 511) div 512").alias("n_seqs"),
        (
            F.expr("(stream_len + 511) div 512") * 512
            - F.col("stream_len")
        ).alias("pad_tokens"),
    ).orderBy("lang")


@register(
    "webdataset_shard_index",
    """
    WITH base AS (
        SELECT doc_id, doc_id % 40 AS k,
               10 + ((doc_id % 40) * 7 + 13) % 200 AS s1,
               1 + (doc_id % 40) % 9 AS s2,
               10 + ((doc_id % 40) * 11 + 5) % 200 AS s3
        FROM documents
    ), m AS (
        SELECT doc_id AS media_id, CAST(1 AS BIGINT) AS member_idx,
               'a' || CAST(k AS VARCHAR) || '.txt' AS member_name,
               CAST(512 AS BIGINT) AS data_offset,
               CAST(s1 AS BIGINT) AS data_size,
               'a' || CAST(k AS VARCHAR) AS sample_key
        FROM base
        UNION ALL
        SELECT doc_id, 2, 'a' || CAST(k AS VARCHAR) || '.cls',
               CAST(1024 + ((s1 + 511) // 512) * 512 AS BIGINT),
               CAST(s2 AS BIGINT),
               'a' || CAST(k AS VARCHAR)
        FROM base
        UNION ALL
        SELECT doc_id, 3, 'b' || CAST(k AS VARCHAR) || '.txt',
               CAST(1536 + ((s1 + 511) // 512) * 512
                    + ((s2 + 511) // 512) * 512 AS BIGINT),
               CAST(s3 AS BIGINT),
               'b' || CAST(k AS VARCHAR)
        FROM base WHERE doc_id % 2 = 1
    )
    SELECT media_id, member_idx, member_name, data_offset, data_size,
           sample_key
    FROM m
    """,
    ops=["multimodal-binary", "container-codec", "webdataset-index"],
)
def webdataset_shard_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style shard indexing on REAL TAR BYTES: spec-valid
    ustar archives (full headers with correct checksums — stdlib
    tarfile opens them, pinned in tests) are synthesized in-plan with
    2-3 members per shard (sample 'a<k>' = .txt + .cls; odd shards add
    sample 'b<k>'), then the member table (name, 0-based data offset,
    size) is recovered by WALKING THE HEADER BLOCKS
    (multimodal.tar_member_index — NUL-terminated names, OCTAL size
    fields, 512-padding arithmetic, zero-block termination), plus the
    WebDataset sample key (basename before the extension). The oracle
    restates the archive LAYOUT closed-form, so a hash match proves
    the octal parse and padding walk byte-for-byte. At 100 TB this is
    the shard-indexing pass a multimodal loader runs once per corpus:
    pure JVM expressions, one row per member, range-read offsets out."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    k = F.col("doc_id") % 40
    s1 = (10 + (k * 7 + 13) % 200).cast("long")
    s2 = (1 + k % 9).cast("long")
    s3 = (10 + (k * 11 + 5) % 200).cast("long")
    ks = k.cast("string")
    mk = lambda nm, sz: F.struct(nm.alias("name"), sz.alias("size"))
    members = F.filter(
        F.array(
            F.struct(
                F.lit(True).alias("inc"),
                F.concat(F.lit("a"), ks, F.lit(".txt")).alias("name"),
                s1.alias("size"),
            ),
            F.struct(
                F.lit(True).alias("inc"),
                F.concat(F.lit("a"), ks, F.lit(".cls")).alias("name"),
                s2.alias("size"),
            ),
            F.struct(
                (F.col("doc_id") % 2 == 1).alias("inc"),
                F.concat(F.lit("b"), ks, F.lit(".txt")).alias("name"),
                s3.alias("size"),
            ),
        ),
        lambda m: m["inc"],
    )
    src = d.select(
        F.col("doc_id").alias("media_id"),
        F.transform(
            members, lambda m: mk(m["name"], m["size"])
        ).alias("members"),
    )
    # MATERIALIZE between synthesis and walk: the walker's fold
    # references the payload 20+ times, and projection collapse
    # re-inlines the whole hex assembly into every reference (measured
    # 14.6 s for the fused plan vs ~5 s synthesis + ~1 s walk when
    # separated; a repartition is NOT enough — the optimizer pushes
    # the walk's projection back through a round-robin exchange). In
    # production the payload comes from shard STORAGE anyway, so a
    # real boundary between "write shards" and "index shards" is the
    # honest shape.
    shards = multimodal.synthesize_tar(src).localCheckpoint()
    idx = multimodal.tar_member_index(shards)
    return idx.select(
        "media_id",
        "member_idx",
        "member_name",
        "data_offset",
        "data_size",
        F.substring_index("member_name", ".", 1).alias("sample_key"),
    )


@register(
    "json_corrupt_record_audit",
    """
    WITH flags AS (
        SELECT lang,
               doc_id % 7 = 0 AS malformed,
               doc_id % 7 <> 0 AND doc_id % 11 = 0 AS type_bad
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN malformed THEN 1 ELSE 0 END) AS BIGINT)
               AS n_malformed,
           CAST(SUM(CASE WHEN type_bad THEN 1 ELSE 0 END) AS BIGINT)
               AS n_type_reject,
           CAST(SUM(CASE WHEN NOT malformed AND NOT type_bad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
    FROM flags GROUP BY lang ORDER BY lang
    """,
    ops=["json-parse", "corrupt-record", "schema-on-read"],
)
def json_corrupt_record_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read ingestion triage — the PERMISSIVE corrupt-record
    contract every JSON-lines landing zone depends on: event records
    are built in-plan with injected failure classes (truncated JSON
    when doc_id%7=0; a string where the schema wants an int when
    doc_id%11=0), parsed with ``from_json`` carrying a
    ``columnNameOfCorruptRecord`` schema slot, and classified FROM THE
    PARSER'S OUTPUT alone. The measured Spark 4 semantic this pins:
    JSON type mismatches quarantine the WHOLE RECORD into the corrupt
    column (unlike CSV's per-field null) — so both failure classes
    surface as corrupt, distinguished here by whether the quarantined
    original text is a complete object (ends with '}' → type reject)
    or truncated (→ malformed). The oracle restates the injections
    closed-form, so the hash match proves the parser routed every row
    as documented. Map-side parse, one aggregation — the triage a
    100 TB landing pass runs before routing rows to quarantine."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    i = F.col("doc_id")
    payload = F.when(
        i % 7 == 0,
        # truncated object — unparseable
        F.concat(F.lit('{"id": '), i.cast("string"), F.lit(', "v": ')),
    ).when(
        i % 11 == 0,
        # wrong type: string where the schema expects int
        F.concat(F.lit('{"id": '), i.cast("string"),
                 F.lit(', "v": "not-a-number"}')),
    ).otherwise(
        F.concat(F.lit('{"id": '), i.cast("string"), F.lit(', "v": '),
                 (i % 100).cast("string"), F.lit("}")),
    )
    parsed = d.select(
        "lang",
        F.from_json(
            payload,
            "struct<id:long, v:long, _corrupt:string>",
            {"mode": "PERMISSIVE",
             "columnNameOfCorruptRecord": "_corrupt"},
        ).alias("_r"),
    )
    corrupt = F.col("_r")["_corrupt"].isNotNull()
    type_reject = corrupt & F.col("_r")["_corrupt"].endswith("}")
    malformed = corrupt & ~F.col("_r")["_corrupt"].endswith("}")
    return (
        parsed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.when(malformed, 1).otherwise(0)).cast("long").alias(
                "n_malformed"
            ),
            F.sum(F.when(type_reject, 1).otherwise(0)).cast("long").alias(
                "n_type_reject"
            ),
            F.sum(F.when(~corrupt, 1).otherwise(0))
            .cast("long")
            .alias("n_clean"),
        )
        .orderBy("lang")
    )


# Fellegi-Sunter log-likelihood weights (micro fixed point), computed
# host-side from the m/u model constants so BOTH engines carry the
# same integer literals — a trained-model stand-in with the published
# structure: agree weight log2(m/u), disagree weight log2((1-m)/(1-u)).
#   field 1 (acctbal 2000-band):  m=.90 u=.30 →  1584962 / -2807355
#   field 2 (name last digit):    m=.95 u=.10 →  3247927 / -4169926
#   field 3 (name 2nd-last digit) m=.85 u=.10 →  3087462 / -2584963
_FS_W = (
    (1584962, -2807355),
    (3247927, -4169926),
    (3087462, -2584963),
)


# Block-volume knob for fs_linkage_score_histogram: a block whose
# candidate volume (cnt_customer × cnt_supplier on the key) exceeds
# this is excluded from pair generation (counted in the audit
# columns). 2M pairs ≈ one executor-core-second of comparator work —
# the per-block budget a production linkage pass holds each blocking
# key to; blocks past it need a finer key, not a bigger executor.
_FS_MAX_BLOCK_PAIRS = 2_000_000


@register(
    "fs_linkage_score_histogram",
    f"""
    WITH c AS (
        SELECT c_custkey AS ck, c_nationkey AS nk,
               substr(c_name, length(c_name) - 1, 2) AS dd,
               CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                   // 200000 AS band,
               substr(c_name, length(c_name), 1) AS d1,
               substr(c_name, length(c_name) - 1, 1) AS d2
        FROM customer
    ), s AS (
        SELECT s_suppkey AS sk, s_nationkey AS snk,
               substr(s_name, length(s_name) - 1, 2) AS sdd,
               CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                   // 200000 AS band,
               substr(s_name, length(s_name), 1) AS d1,
               substr(s_name, length(s_name) - 1, 1) AS d2
        FROM supplier
    ), b1 AS (
        SELECT cb.nk, cb.cn * sb.sn AS pairs
        FROM (SELECT nk, COUNT(*) AS cn FROM c GROUP BY nk) cb
        JOIN (SELECT snk, COUNT(*) AS sn FROM s GROUP BY snk) sb
          ON sb.snk = cb.nk
    ), b2 AS (
        SELECT cb.dd, cb.cn * sb.sn AS pairs
        FROM (SELECT dd, COUNT(*) AS cn FROM c GROUP BY dd) cb
        JOIN (SELECT sdd, COUNT(*) AS sn FROM s GROUP BY sdd) sb
          ON sb.sdd = cb.dd
    ), p1 AS (
        SELECT c.ck, s.sk FROM c JOIN s ON s.snk = c.nk
        WHERE c.nk IN (SELECT nk FROM b1
                       WHERE pairs <= {_FS_MAX_BLOCK_PAIRS})
    ), p2 AS (
        SELECT c.ck, s.sk FROM c JOIN s ON s.sdd = c.dd
        WHERE c.dd IN (SELECT dd FROM b2
                       WHERE pairs <= {_FS_MAX_BLOCK_PAIRS})
    ), cand AS (
        SELECT DISTINCT ck, sk
        FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
    ), scored AS (
        SELECT CAST(
            (CASE WHEN c.band = s.band
                  THEN {_FS_W[0][0]} ELSE {_FS_W[0][1]} END)
          + (CASE WHEN c.d1 = s.d1
                  THEN {_FS_W[1][0]} ELSE {_FS_W[1][1]} END)
          + (CASE WHEN c.d2 = s.d2
                  THEN {_FS_W[2][0]} ELSE {_FS_W[2][1]} END)
            AS BIGINT) AS score_micro
        FROM cand JOIN c ON c.ck = cand.ck JOIN s ON s.sk = cand.sk
    ), hist AS (
        SELECT score_micro, CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM scored GROUP BY score_micro
    ), audit AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM b1) AS n_blocks_p1,
               (SELECT CAST(MAX(pairs) AS BIGINT) FROM b1)
                   AS max_block_pairs_p1,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM b2) AS n_blocks_p2,
               (SELECT CAST(MAX(pairs) AS BIGINT) FROM b2)
                   AS max_block_pairs_p2,
               CAST((SELECT SUM(CASE WHEN pairs > {_FS_MAX_BLOCK_PAIRS}
                                     THEN 1 ELSE 0 END) FROM b1)
                  + (SELECT SUM(CASE WHEN pairs > {_FS_MAX_BLOCK_PAIRS}
                                     THEN 1 ELSE 0 END) FROM b2)
                    AS BIGINT) AS n_oversized
    )
    SELECT h.score_micro, h.n_pairs, a.n_blocks_p1,
           a.max_block_pairs_p1, a.n_blocks_p2, a.max_block_pairs_p2,
           a.n_oversized
    FROM hist h CROSS JOIN audit a ORDER BY h.score_micro
    """,
    ops=["entity-resolution", "fellegi-sunter", "multipass-blocking"],
)
def fs_linkage_score_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage, the Fellegi-Sunter model (1969 —
    the canonical data-integration method the reference's domain sits
    in): customer↔supplier candidate pairs from MULTI-PASS blocking
    (VERDICT r10 ask #3 — the nation key alone has 25 values, so its
    blocks grow quadratically with table size): pass 1 blocks on
    nation, pass 2 on the name's last-two-digit suffix (~100 values),
    candidate sets union and dedup at the pair level
    (operators/linkage.py:multipass_blocked_pairs), so a true match
    missed by one key is still caught by the other — the standard
    multi-pass FS recipe. Blocks whose candidate volume exceeds
    ``_FS_MAX_BLOCK_PAIRS`` (documented knob) are excluded from pair
    generation, with the exclusion OBSERVABLE in the emitted audit
    columns (per-pass block counts, max block volume, oversized
    count — all hash-checked); the exclusion semi-joins both sides
    below the block join, so an oversized block never physically
    explodes. Scoring: summed log-likelihood weights over three field
    comparators (account-balance band via exact cents with truncating
    div — the cross-engine-safe decimal path; name-suffix digits),
    host-literal micro ints from the m/u model, so the SCORE
    DISTRIBUTION itself is hash-checked — the histogram a linkage
    deployment thresholds into match / possible / non-match."""
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")

    def prep(df, key, nk, bal, name, pfx):
        return df.select(
            F.col(key).alias(f"{pfx}key"),
            F.col(nk).alias(f"{pfx}nk"),
            F.expr(
                f"substr({name}, length({name}) - 1, 2)"
            ).alias(f"{pfx}dd"),
            F.expr(
                f"CAST(CAST({bal} AS DECIMAL(18,2)) * 100 AS BIGINT)"
                " div 200000"
            ).alias(f"{pfx}band"),
            F.substring(F.col(name), -1, 1).alias(f"{pfx}d1"),
            F.expr(
                f"substr({name}, length({name}) - 1, 1)"
            ).alias(f"{pfx}d2"),
        )

    cc = prep(c, "c_custkey", "c_nationkey", "c_acctbal", "c_name", "c")
    ss = prep(s, "s_suppkey", "s_nationkey", "s_acctbal", "s_name", "s")
    passes = [("cnk", "snk"), ("cdd", "sdd")]
    cand = linkage.multipass_blocked_pairs(
        cc, ss, passes, "ckey", "skey",
        max_block_pairs=_FS_MAX_BLOCK_PAIRS,
    )

    def w(cond, i):
        return F.when(cond, F.lit(_FS_W[i][0])).otherwise(
            F.lit(_FS_W[i][1])
        ).cast("long")

    scored = (
        cand.join(cc, "ckey")
        .join(F.broadcast(ss), "skey")
        .select(
            (
                w(F.col("cband") == F.col("sband"), 0)
                + w(F.col("cd1") == F.col("sd1"), 1)
                + w(F.col("cd2") == F.col("sd2"), 2)
            ).alias("score_micro")
        )
    )
    hist = scored.groupBy("score_micro").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    a = linkage.blocking_audit(
        cc, ss, passes, max_block_pairs=_FS_MAX_BLOCK_PAIRS
    )
    audit = a.agg(
        F.max(F.when(F.col("pass_idx") == 1, F.col("n_blocks")))
        .cast("long").alias("n_blocks_p1"),
        F.max(
            F.when(F.col("pass_idx") == 1, F.col("max_block_pairs_seen"))
        ).cast("long").alias("max_block_pairs_p1"),
        F.max(F.when(F.col("pass_idx") == 2, F.col("n_blocks")))
        .cast("long").alias("n_blocks_p2"),
        F.max(
            F.when(F.col("pass_idx") == 2, F.col("max_block_pairs_seen"))
        ).cast("long").alias("max_block_pairs_p2"),
        F.sum("n_oversized").cast("long").alias("n_oversized"),
    )
    return hist.crossJoin(F.broadcast(audit)).orderBy("score_micro")


@register(
    "csv_corrupt_record_audit",
    """
    WITH flags AS (
        SELECT lang,
               doc_id % 7 = 0 AS quote_bad,
               doc_id % 7 <> 0 AND doc_id % 11 = 0 AS type_bad,
               doc_id % 7 <> 0 AND doc_id % 11 <> 0
                   AND doc_id % 13 = 0 AS short_row
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN quote_bad OR type_bad OR short_row
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
           CAST(SUM(CASE WHEN quote_bad OR type_bad OR short_row
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_salvaged_id,
           CAST(SUM(CASE WHEN quote_bad THEN 1 ELSE 0 END) AS BIGINT)
               AS n_quote_bad,
           CAST(SUM(CASE WHEN type_bad THEN 1 ELSE 0 END) AS BIGINT)
               AS n_type_bad,
           CAST(SUM(CASE WHEN short_row THEN 1 ELSE 0 END) AS BIGINT)
               AS n_short_row,
           CAST(SUM(CASE WHEN NOT (quote_bad OR type_bad OR short_row)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
    FROM flags GROUP BY lang ORDER BY lang
    """,
    ops=["csv-parse", "corrupt-record", "schema-on-read"],
)
def csv_corrupt_record_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CSV twin of json_corrupt_record_audit, pinning the
    CONTRASTING parser contract (measured, Spark 4): under PERMISSIVE,
    ``from_csv`` quarantines the original line into the corrupt column
    for EVERY failure class (unclosed quote, type mismatch, missing
    column) but SALVAGES the fields it could parse — the leading id
    survives on every quarantined row (``n_salvaged_id`` equals
    ``n_quarantined``, the semantic pin; JSON, by contrast, yields the
    whole record as corrupt with no salvage). Classes are told apart
    from the quarantined TEXT (quote present / no delimiter / rest).
    Oracle restates the injections closed-form. Map-side parse, one
    aggregation."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    i = F.col("doc_id")
    line = F.when(
        i % 7 == 0, F.concat(i.cast("string"), F.lit(',"x'))
    ).when(
        i % 11 == 0, F.concat(i.cast("string"), F.lit(",zz"))
    ).when(
        i % 13 == 0, i.cast("string")
    ).otherwise(
        F.concat(i.cast("string"), F.lit(","), (i % 100).cast("string"))
    )
    parsed = d.select(
        "lang",
        F.from_csv(
            line,
            "id long, v long, _corrupt string",
            {"mode": "PERMISSIVE",
             "columnNameOfCorruptRecord": "_corrupt"},
        ).alias("_r"),
    )
    txt = F.col("_r")["_corrupt"]
    corrupt = txt.isNotNull()
    quote_bad = corrupt & txt.contains('"')
    short_row = corrupt & ~txt.contains('"') & ~txt.contains(",")
    type_bad = corrupt & ~quote_bad & ~short_row
    return (
        parsed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.when(corrupt, 1).otherwise(0)).cast("long").alias(
                "n_quarantined"
            ),
            F.sum(
                F.when(corrupt & F.col("_r")["id"].isNotNull(), 1)
                .otherwise(0)
            ).cast("long").alias("n_salvaged_id"),
            F.sum(F.when(quote_bad, 1).otherwise(0)).cast("long").alias(
                "n_quote_bad"
            ),
            F.sum(F.when(type_bad, 1).otherwise(0)).cast("long").alias(
                "n_type_bad"
            ),
            F.sum(F.when(short_row, 1).otherwise(0)).cast("long").alias(
                "n_short_row"
            ),
            F.sum(F.when(~corrupt, 1).otherwise(0)).cast("long").alias(
                "n_clean"
            ),
        )
        .orderBy("lang")
    )


_SPO_LSH_CTE = """comp AS (
        SELECT p.plane, d.dim,
               CASE WHEN substr(md5(CAST(p.plane AS VARCHAR) || ':'
                                  || CAST(d.dim AS VARCHAR)), 1, 1)
                         IN ('1','3','5','7','9','b','d','f')
                    THEN 1.0 ELSE -1.0 END AS c
        FROM (SELECT unnest(range(8)) AS plane) p,
             (SELECT unnest(range(64)) AS dim) d
    ), proj AS (
        SELECT e.vec_id, c.plane,
               SUM(CAST(e.embedding[CAST(c.dim AS INTEGER) + 1]
                        AS DOUBLE) * c.c) AS s
        FROM embeddings e, comp c
        GROUP BY e.vec_id, c.plane
    ), buckets AS (
        SELECT vec_id,
               CAST(SUM(CASE WHEN s > 0
                             THEN 1::BIGINT << CAST(plane AS INTEGER)
                             ELSE 0 END) AS BIGINT) AS bucket
        FROM proj GROUP BY vec_id
    )"""


@register(
    "semantic_packing_order_report",
    f"""
    WITH {_SPO_LSH_CTE}, v AS (
        SELECT e.vec_id, e.embedding, b.bucket,
               sqrt(list_sum(list_transform(e.embedding,
                    zx -> CAST(zx AS DOUBLE) * CAST(zx AS DOUBLE))))
                   AS nrm
        FROM embeddings e JOIN buckets b USING (vec_id)
        WHERE list_sum(list_transform(e.embedding,
                  zx -> CAST(zx AS DOUBLE) * CAST(zx AS DOUBLE))) > 0
    ), arms AS (
        SELECT 'baseline' AS arm, CAST(0 AS BIGINT) AS okey, *
        FROM v
        UNION ALL
        SELECT 'semantic', bucket, * FROM v
    ), ranked AS (
        SELECT arm, vec_id, embedding, nrm,
               lead(embedding) OVER w AS nxt,
               lead(nrm) OVER w AS nxtn
        FROM arms
        WINDOW w AS (PARTITION BY arm ORDER BY okey, vec_id)
    )
    SELECT arm,
           CAST(COUNT(nxt) AS BIGINT) AS n_adjacent_pairs,
           CAST(SUM(CAST(FLOOR(
               list_sum(list_transform(list_zip(embedding, nxt),
                   zp -> CAST(zp[1] AS DOUBLE) * CAST(zp[2] AS DOUBLE)))
               / (nrm * nxtn) * 1000000) AS BIGINT)) AS BIGINT)
               AS sum_cos_fp6,
           CAST(SUM(CAST(FLOOR(
               list_sum(list_transform(list_zip(embedding, nxt),
                   zp -> CAST(zp[1] AS DOUBLE) * CAST(zp[2] AS DOUBLE)))
               / (nrm * nxtn) * 1000000) AS BIGINT))
               // COUNT(nxt) AS BIGINT) AS mean_cos_fp6
    FROM ranked WHERE nxt IS NOT NULL
    GROUP BY arm ORDER BY arm
    """,
    ops=["semantic-packing", "pack-contiguous", "similarity-lsh",
         "curriculum"],
)
def semantic_packing_order_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-context-pretraining packing order (Shi et al. 2023: packing
    RELATED documents into the same context beats random order): the
    measured adjacency-coherence comparison between baseline id order
    and SEMANTIC order (sort by LSH bucket, then id — related vectors
    become neighbors). For both orderings, every adjacent pair's exact
    cosine is floored to fp6 and summed, so the improvement itself is
    hash-checked: the semantic arm's mean adjacent cosine must beat
    baseline for bucket-sorting to pay its sort. Scale shape: the LSH
    bucket key is map-side (similarity.lsh_bucket); the ordering
    window partitions per arm here because the report is corpus-wide —
    a production packer orders WITHIN shards (pack_contiguous's shard
    column), keeping every sort bounded."""
    e = _t(spark, sf_dir, "embeddings", fanout=True)
    b = similarity.lsh_bucket(e, n_planes=8)
    v = b.select(
        "vec_id",
        "embedding",
        "bucket",
        F.sqrt(similarity._dot(F.col("embedding"), F.col("embedding")))
        .alias("nrm"),
    ).filter(F.col("nrm") > 0)
    base = v.select(
        F.lit("baseline").alias("arm"),
        F.lit(0).cast("long").alias("okey"),
        "vec_id", "embedding", "nrm",
    )
    sem = v.select(
        F.lit("semantic").alias("arm"),
        F.col("bucket").alias("okey"),
        "vec_id", "embedding", "nrm",
    )
    arms = base.unionByName(sem)
    w = Window.partitionBy("arm").orderBy("okey", "vec_id")
    ranked = arms.select(
        "arm",
        "embedding",
        "nrm",
        F.lead("embedding").over(w).alias("nxt"),
        F.lead("nrm").over(w).alias("nxtn"),
    ).filter(F.col("nxt").isNotNull())
    cos_fp6 = F.floor(
        similarity._dot(F.col("embedding"), F.col("nxt"))
        / (F.col("nrm") * F.col("nxtn"))
        * 1000000
    ).cast("long")
    return (
        ranked.groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_adjacent_pairs"),
            F.sum(cos_fp6).cast("long").alias("sum_cos_fp6"),
        )
        .select(
            "arm",
            "n_adjacent_pairs",
            "sum_cos_fp6",
            F.expr("sum_cos_fp6 div n_adjacent_pairs").alias(
                "mean_cos_fp6"
            ),
        )
        .orderBy("arm")
    )


@register(
    "preference_pair_audit",
    """
    WITH rows_ AS (
        SELECT doc_id, lang,
               'p' || CAST(doc_id % 50 AS VARCHAR) AS prompt,
               'c' || CAST(doc_id AS VARCHAR) AS chosen,
               CASE WHEN doc_id % 9 = 0
                    THEN 'c' || CAST(doc_id AS VARCHAR)
                    ELSE 'r' || CAST(doc_id AS VARCHAR) END AS rejected,
               CASE WHEN doc_id % 13 = 0 THEN 2 ELSE 1 END AS copies
        FROM documents
    ), expanded AS (
        SELECT doc_id, lang, prompt, chosen, rejected
        FROM rows_ CROSS JOIN (SELECT unnest(range(2)) AS c)
        WHERE c < copies
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT (prompt, chosen, rejected)) AS BIGINT)
               AS n_unique_pairs,
           CAST(COUNT(*) - COUNT(DISTINCT (prompt, chosen, rejected))
                AS BIGINT) AS n_dup_rows,
           CAST(SUM(CASE WHEN chosen = rejected THEN 1 ELSE 0 END)
                AS BIGINT) AS n_degenerate,
           CAST(COUNT(DISTINCT prompt) AS BIGINT) AS n_prompts,
           CAST(COUNT(DISTINCT CASE WHEN chosen <> rejected
                                    THEN (prompt, chosen, rejected)
                               END) AS BIGINT) AS n_trainable
    FROM expanded GROUP BY lang ORDER BY lang
    """,
    ops=["rlhf-preference-audit", "sft-data-validation", "dedup-exact"],
)
def preference_pair_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RLHF preference-data gate — the checks a reward-model /
    DPO data build runs before training: duplicate (prompt, chosen,
    rejected) rows (injected via a copies explode), DEGENERATE pairs
    (chosen == rejected — gradient-free rows that silently dilute the
    loss), prompt cardinality, and the trainable-pair count
    (unique AND non-degenerate). Synthesized from documents with
    class-keyed prompts so prompts repeat across pairs; every count is
    exact integer aggregation, one shuffle. The oracle restates the
    injections on the modular closed form."""
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    rows = d.select(
        "doc_id",
        "lang",
        F.concat(F.lit("p"), (i % 50).cast("string")).alias("prompt"),
        F.concat(F.lit("c"), i.cast("string")).alias("chosen"),
        F.when(
            i % 9 == 0, F.concat(F.lit("c"), i.cast("string"))
        ).otherwise(F.concat(F.lit("r"), i.cast("string"))).alias(
            "rejected"
        ),
        F.when(i % 13 == 0, 2).otherwise(1).alias("copies"),
    )
    expanded = rows.select(
        "doc_id", "lang", "prompt", "chosen", "rejected",
        F.explode(F.sequence(F.lit(1), F.col("copies"))).alias("_c"),
    ).drop("_c")
    trip = F.struct("prompt", "chosen", "rejected")
    return (
        expanded.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct(trip).cast("long").alias("n_unique_pairs"),
            (F.count(F.lit(1)) - F.countDistinct(trip))
            .cast("long")
            .alias("n_dup_rows"),
            F.sum(
                F.when(F.col("chosen") == F.col("rejected"), 1).otherwise(0)
            ).cast("long").alias("n_degenerate"),
            F.countDistinct("prompt").cast("long").alias("n_prompts"),
            F.countDistinct(
                F.when(F.col("chosen") != F.col("rejected"), trip)
            ).cast("long").alias("n_trainable"),
        )
        .orderBy("lang")
    )


@register(
    "customer_activity_islands",
    """
    WITH months AS (
        SELECT DISTINCT o_custkey,
               (year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1
                   AS mi
        FROM orders
    ), grp AS (
        SELECT o_custkey, mi,
               mi - ROW_NUMBER() OVER (PARTITION BY o_custkey
                                       ORDER BY mi) AS island_key
        FROM months
    ), islands AS (
        SELECT o_custkey, island_key, COUNT(*) AS island_len
        FROM grp GROUP BY o_custkey, island_key
    )
    SELECT CAST(island_len AS BIGINT) AS island_len,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM islands GROUP BY island_len ORDER BY island_len
    """,
    ops=["gaps-and-islands", "window-sequencing", "A3"],
)
def customer_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic GAPS-AND-ISLANDS shape: per customer, runs of
    CONSECUTIVE active months (months with ≥1 order) found with the
    canonical value-minus-row_number grouping key, reported as a
    histogram of island lengths — the engagement-streak census every
    retention analysis starts from. One distinct, one per-key window
    (bounded by a customer's months), two aggregations; all integers,
    hash-exact. At 100 TB the window partitions by customer — no
    global sort, no single-reducer stage."""
    o = _t(spark, sf_dir, "orders")
    months = o.select(
        "o_custkey",
        (
            (F.year("o_orderdate") - 1992) * 12
            + F.month("o_orderdate") - 1
        ).alias("mi"),
    ).distinct()
    w = Window.partitionBy("o_custkey").orderBy("mi")
    grp = months.select(
        "o_custkey",
        (F.col("mi") - F.row_number().over(w)).alias("island_key"),
    )
    islands = grp.groupBy("o_custkey", "island_key").agg(
        F.count(F.lit(1)).alias("island_len")
    )
    return (
        islands.groupBy("island_len")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_islands"),
            F.countDistinct("o_custkey").cast("long").alias("n_customers"),
        )
        .select(
            F.col("island_len").cast("long").alias("island_len"),
            "n_islands",
            "n_customers",
        )
        .orderBy("island_len")
    )


@register(
    "chat_format_lint",
    """
    WITH flags AS (
        SELECT lang,
               doc_id % 5 <> 0 AS has_system,
               doc_id % 7 <> 0 AS alternation_ok,
               doc_id % 11 <> 0 AS no_empty,
               (CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END)
               + 2 * (1 + doc_id % 3)
               + (CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)
                   AS n_msgs
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_transcripts,
           CAST(SUM(n_msgs) AS BIGINT) AS n_messages,
           CAST(SUM(CASE WHEN has_system THEN 1 ELSE 0 END) AS BIGINT)
               AS n_with_system,
           CAST(SUM(CASE WHEN NOT alternation_ok THEN 1 ELSE 0 END)
                AS BIGINT) AS n_alternation_bad,
           CAST(SUM(CASE WHEN NOT no_empty THEN 1 ELSE 0 END) AS BIGINT)
               AS n_empty_content,
           CAST(SUM(CASE WHEN alternation_ok AND no_empty
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
    FROM flags GROUP BY lang ORDER BY lang
    """,
    ops=["chat-template-lint", "sft-data-validation", "json-parse"],
)
def chat_format_lint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT/RLHF transcript validation end to end: chat transcripts are
    BUILT in-plan (variable turn counts, deliberately injected
    violations — missing system turn, doubled user turn, empty
    content), serialized with ``to_json``, then PARSED BACK and linted
    entirely from the parsed value (text.chat_template_lint —
    from_json + HOF role-alternation / content checks, zero Python).
    The oracle restates each flag on the generator's modular closed
    form, so a hash match proves the serialize→parse→validate round
    trip classifies every transcript exactly — the format gate a
    100 TB conversation corpus runs map-side before training. Per-lang
    violation report, one aggregation."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    transcripts = d.select(
        "doc_id",
        "lang",
        F.to_json(F.expr(_CHAT_MSGS_SQL)).alias("chat_json"),
    )
    flags = text.chat_template_lint(transcripts, json_col="chat_json")
    joined = flags.join(
        transcripts.select("doc_id", "lang"), "doc_id"
    )
    return (
        joined.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_transcripts"),
            F.sum("n_messages").cast("long").alias("n_messages"),
            F.sum(F.when(F.col("has_system"), 1).otherwise(0))
            .cast("long")
            .alias("n_with_system"),
            F.sum(F.when(~F.col("alternation_ok"), 1).otherwise(0))
            .cast("long")
            .alias("n_alternation_bad"),
            F.sum(F.when(~F.col("no_empty_content"), 1).otherwise(0))
            .cast("long")
            .alias("n_empty_content"),
            F.sum(
                F.when(
                    F.col("alternation_ok")
                    & F.col("no_empty_content")
                    & F.col("roles_ok")
                    & F.col("ends_with_assistant"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_valid"),
        )
        .orderBy("lang")
    )


# =====================================================================
# Public API used by __spark_entry__.py
# =====================================================================



# =====================================================================
# Round-11 additions — RLHF/labeling-ops + serving-side data ops +
# set-similarity join with prefix filtering (PPJoin lineage).
# =====================================================================


@register(
    "ppjoin_word_set_pairs",
    f"""
    WITH {_SHINGLES_CTE}, tok AS (
        SELECT doc_id, shingle AS w FROM sh
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS set_size FROM tok GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
        GROUP BY id_a, id_b
    )
    SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
           CAST(sa.set_size AS BIGINT) AS size_a,
           CAST(sb.set_size AS BIGINT) AS size_b,
           CAST(n_common * 1000
                // (sa.set_size + sb.set_size - n_common)
                AS BIGINT) AS jaccard_milli
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE 5 * n_common >= 3 * (sa.set_size + sb.set_size - n_common)
    """,
    ops=["set-similarity-join", "prefix-filtering", "dedup-jaccard"],
)
def ppjoin_word_set_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity self-join with PREFIX FILTERING (the
    AllPairs/PPJoin family — Chaudhuri et al. 2006, Xiao et al. 2008):
    3-gram shingle-set pairs with Jaccard >= 3/5, but candidate
    generation joins only on each document's PREFIX — its
    ``|x| - ceil(t*|x|) + 1`` RAREST shingles under a global
    (document-frequency, shingle) order — instead of on every shingle
    the way dedup_ngram_jaccard's candidate join does. The prefix
    principle is lossless: a qualifying pair must share a prefix
    token, so the result equals the all-shared-token spec the ORACLE
    spells, while candidate volume drops by the frequency of the
    commonest shingles (exactly the keys that explode a naive token
    join at 100 TB — this is the third candidate-generation strategy
    in the dedup family, next to the df-cap and MinHash-LSH).
    Spark-first details in the operator
    (``operators/dedup.py:ppjoin_pairs``): the global order needs NO
    global rank — each doc array_sorts its own (df, w) structs and
    slices the prefix locally; ceil(3s/5) is exact integer math; the
    threshold test cross-multiplies (``5*common >= 3*union``) so no
    float touches the hash path; jaccard_milli is truncating-div
    fixed point (div ~ //, the theil_sen contract). Losslessness is
    additionally pinned by a hypothesis property test against the
    brute-force quadratic (tests/test_properties.py).

    SCALE NOTE: this form's 3-gram shingle universe SATURATES on the
    synthetic 31-word vocabulary (~30k combos; median df 77% of docs
    at sf1), so the prefix has nothing rare to key on and candidates
    are Θ(n²) — measured 24x on 10x data (BASELINE.md
    "Fixed-cardinality blocking"). The registered 100 TB form is
    `ppjoin_rare_shingle_pairs` (queries/_p11.py): 5-gram shingles,
    whose universe grows with the corpus and keeps prefixes rare."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    tok = dedup.ngram_set(d, n=3)
    return dedup.ppjoin_pairs(
        tok, id_col="doc_id", item_col="shingle", t_num=3, t_den=5
    )


@register(
    "annotator_agreement_kappa",
    """
    WITH lab AS (
        SELECT lang,
               (doc_id * 7 + 3) % 3 AS a,
               CASE WHEN doc_id % 4 = 0
                    THEN ((doc_id * 7 + 3) % 3 + 1 + doc_id % 2) % 3
                    ELSE (doc_id * 7 + 3) % 3 END AS b
        FROM documents
    ), per AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_agree,
               CAST(SUM(CASE WHEN a = 0 THEN 1 ELSE 0 END) *
                    SUM(CASE WHEN b = 0 THEN 1 ELSE 0 END)
                  + SUM(CASE WHEN a = 1 THEN 1 ELSE 0 END) *
                    SUM(CASE WHEN b = 1 THEN 1 ELSE 0 END)
                  + SUM(CASE WHEN a = 2 THEN 1 ELSE 0 END) *
                    SUM(CASE WHEN b = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS marg
        FROM lab GROUP BY lang
    )
    SELECT lang, n_items, n_agree,
           n_agree * 1000000 // n_items AS po_micro,
           marg * 1000000 // (n_items * n_items) AS pe_micro,
           (n_agree * 1000000 // n_items
            - marg * 1000000 // (n_items * n_items)) * 1000000
           // (1000000 - marg * 1000000 // (n_items * n_items))
               AS kappa_micro
    FROM per ORDER BY lang
    """,
    ops=["inter-annotator-agreement", "cohens-kappa", "labeling-qa"],
)
def annotator_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-annotator reliability for a labeling operation — Cohen's
    kappa (1960) per language over two deterministic synthetic
    annotators (annotator B flips A's 3-class label on every 4th item,
    the disagreement pattern of a noisy rater): observed agreement
    p_o, chance agreement p_e from the marginal label distributions,
    and kappa = (p_o − p_e)/(1 − p_e) — the first QA gate any
    RLHF/preference labeling pipeline runs before trusting its raters.
    Everything is micro fixed point with truncating integer division
    (identical div ~ // on both engines), so the reliability scores
    themselves are hash-checked: n·n ≤ 25e6 at sf0.1 keeps the
    marginal product far from BIGINT range. One map-side label
    derivation + one groupBy(lang) with conditional sums — no joins,
    no window; scales as a single partial-aggregated pass."""
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    a = (i * 7 + 3) % 3
    b = F.when(i % 4 == 0, (a + 1 + i % 2) % 3).otherwise(a)
    lab = d.select("lang", a.alias("a"), b.alias("b"))

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    per = lab.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        cnt(F.col("a") == F.col("b")).alias("n_agree"),
        (
            cnt(F.col("a") == 0) * cnt(F.col("b") == 0)
            + cnt(F.col("a") == 1) * cnt(F.col("b") == 1)
            + cnt(F.col("a") == 2) * cnt(F.col("b") == 2)
        ).cast("long").alias("marg"),
    )
    po = F.expr("n_agree * 1000000 div n_items")
    pe = F.expr("marg * 1000000 div (n_items * n_items)")
    return per.select(
        "lang",
        "n_items",
        "n_agree",
        po.alias("po_micro"),
        pe.alias("pe_micro"),
    ).select(
        "lang", "n_items", "n_agree", "po_micro", "pe_micro",
        F.expr(
            "(po_micro - pe_micro) * 1000000"
            " div (1000000 - pe_micro)"
        ).alias("kappa_micro"),
    ).orderBy("lang")


@register(
    "best_of_n_selection",
    """
    WITH cand AS (
        SELECT doc_id // 4 AS prompt_id, doc_id,
               ('0x' || substr(md5('r:' || CAST(doc_id AS VARCHAR)),
                               1, 8))::BIGINT % 1000 AS reward_milli
        FROM documents
    ), ranked AS (
        SELECT prompt_id, doc_id, reward_milli,
               ROW_NUMBER() OVER (
                   PARTITION BY prompt_id
                   ORDER BY reward_milli DESC, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY prompt_id) AS n_cands
        FROM cand
    )
    SELECT prompt_id,
           CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
               AS best_doc_id,
           CAST(MAX(CASE WHEN rn = 1 THEN reward_milli END) AS BIGINT)
               AS best_reward_milli,
           CAST(MAX(CASE WHEN rn = 1 THEN reward_milli END)
              - MAX(CASE WHEN rn = 2 THEN reward_milli END) AS BIGINT)
               AS margin_milli,
           CAST(MAX(n_cands) AS BIGINT) AS n_cands
    FROM ranked WHERE rn <= 2
    GROUP BY prompt_id ORDER BY prompt_id
    """,
    ops=["best-of-n", "rejection-sampling", "rlhf-data"],
)
def best_of_n_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-of-n rejection sampling — the RLHF data op that keeps, per
    prompt, the highest-reward of n candidate responses: documents
    grouped 4-per-prompt, rewards from the portable md5 hash bucket
    (sampling.py convention), per-prompt argmax with the (reward desc,
    doc_id) tiebreak plus the SELECTION MARGIN (best − runner-up — the
    signal DPO-style pair construction and reward-model confidence
    filters threshold on). Scale shape: the rank-2 window filter
    compiles to WindowGroupLimit (per-partition partial top-k before
    the prompt shuffle), so a trillion-candidate pool never
    single-reducers; one grouped pivot after."""
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    cand = d.select(
        (i / 4).cast("long").alias("prompt_id"),
        i.alias("doc_id"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("r:"), i.cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % 1000
        ).alias("reward_milli"),
    )
    w = Window.partitionBy("prompt_id").orderBy(
        F.col("reward_milli").desc(), "doc_id"
    )
    ranked = cand.select(
        "prompt_id",
        "doc_id",
        "reward_milli",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("prompt_id"))
        .alias("n_cands"),
    ).filter(F.col("rn") <= 2)
    return (
        ranked.groupBy("prompt_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("doc_id")))
            .cast("long")
            .alias("best_doc_id"),
            F.max(F.when(F.col("rn") == 1, F.col("reward_milli")))
            .cast("long")
            .alias("best_reward_milli"),
            (
                F.max(F.when(F.col("rn") == 1, F.col("reward_milli")))
                - F.max(F.when(F.col("rn") == 2, F.col("reward_milli")))
            ).cast("long").alias("margin_milli"),
            F.max("n_cands").cast("long").alias("n_cands"),
        )
        .orderBy("prompt_id")
    )


@register(
    "uncertainty_sampling_batch",
    """
    WITH sc AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5('p:' || CAST(doc_id AS VARCHAR)),
                               1, 8))::BIGINT % 1001 AS p1_milli,
               ('0x' || substr(md5('q:' || CAST(doc_id AS VARCHAR)),
                               1, 8))::BIGINT % 1001 AS p2_milli
        FROM documents
    ), m AS (
        SELECT 'margin' AS arm, doc_id, lang, p1_milli, p2_milli,
               abs(2 * p1_milli - 1000) AS score_milli
        FROM sc ORDER BY abs(2 * p1_milli - 1000), doc_id LIMIT 25
    ), q AS (
        SELECT 'qbc' AS arm, doc_id, lang, p1_milli, p2_milli,
               abs(p1_milli - p2_milli) AS score_milli
        FROM sc ORDER BY abs(p1_milli - p2_milli) DESC, doc_id LIMIT 25
    )
    SELECT arm, doc_id, lang,
           CAST(p1_milli AS BIGINT) AS p1_milli,
           CAST(p2_milli AS BIGINT) AS p2_milli,
           CAST(score_milli AS BIGINT) AS score_milli
    FROM (SELECT * FROM m UNION ALL SELECT * FROM q)
    ORDER BY arm, doc_id
    """,
    ops=["active-learning", "uncertainty-sampling", "query-by-committee"],
)
def uncertainty_sampling_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-learning acquisition — the labeling-budget allocator of
    a data-annotation pipeline: two committee members score every doc
    (portable md5 probabilities in milli), arm ``margin`` acquires the
    25 docs closest to the p=0.5 decision boundary (margin sampling —
    least-confidence and entropy order identically for binary), arm
    ``qbc`` acquires the 25 docs the two members DISAGREE on most
    (query-by-committee). Both arms are TakeOrdered top-k with doc_id
    tiebreaks — bounded driver-side result, full scan stays
    distributed; union of two independent top-k arms, no window."""
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")

    def h(seed):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(seed), i.cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % 1001
        )

    sc = d.select(
        i.alias("doc_id"), "lang",
        h("p:").alias("p1_milli"), h("q:").alias("p2_milli"),
    )
    margin = F.abs(F.lit(2) * F.col("p1_milli") - 1000)
    qbc = F.abs(F.col("p1_milli") - F.col("p2_milli"))
    m = (
        sc.withColumn("score_milli", margin.cast("long"))
        .orderBy("score_milli", "doc_id")
        .limit(25)
        .select(F.lit("margin").alias("arm"), "doc_id", "lang",
                "p1_milli", "p2_milli", "score_milli")
    )
    q = (
        sc.withColumn("score_milli", qbc.cast("long"))
        .orderBy(F.col("score_milli").desc(), "doc_id")
        .limit(25)
        .select(F.lit("qbc").alias("arm"), "doc_id", "lang",
                "p1_milli", "p2_milli", "score_milli")
    )
    return m.unionByName(q).orderBy("arm", "doc_id")


@register(
    "prefix_cache_hit_report",
    """
    WITH pre AS (
        SELECT k.k AS prefix_chars, substr(text, 1, k.k) AS prefix
        FROM documents
        CROSS JOIN (VALUES (8), (16), (32), (64)) k(k)
    ), per AS (
        SELECT prefix_chars, prefix, COUNT(*) AS cnt
        FROM pre GROUP BY prefix_chars, prefix
    )
    SELECT CAST(prefix_chars AS BIGINT) AS prefix_chars,
           CAST(SUM(cnt) AS BIGINT) AS n_prompts,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_prefixes,
           CAST(SUM(cnt) - COUNT(*) AS BIGINT) AS cache_hits,
           CAST((SUM(cnt) - COUNT(*)) * 1000 // SUM(cnt) AS BIGINT) AS hit_rate_milli,
           CAST(MAX(cnt) * 1000 // SUM(cnt) AS BIGINT) AS hot_prefix_share_milli
    FROM per GROUP BY prefix_chars ORDER BY prefix_chars
    """,
    ops=["prefix-cache", "serving-data-ops", "kv-cache-reuse"],
)
def prefix_cache_hit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KV-/prefix-cache reuse analysis — the serving-side data op that
    sizes a prompt cache: treating documents as prompts, for prefix
    lengths 8/16/32/64 chars compute the steady-state hit rate of an
    exact-prefix cache (every repeat of an already-seen prefix is a
    hit: ``n − n_distinct``) and the hottest prefix's traffic share
    (the single-entry skew that decides whether one cache shard melts).
    Fixed 4-value explode then two-level aggregate — partial combine
    per (k, prefix) before the shuffle; prefix truncation bounds key
    width, so state is capped at 4·|distinct prefixes| regardless of
    corpus size."""
    d = _t(spark, sf_dir, "documents")
    pre = d.select(
        F.explode(
            F.array(F.lit(8), F.lit(16), F.lit(32), F.lit(64))
        ).alias("k"),
        "text",
    ).select(
        F.col("k").cast("long").alias("prefix_chars"),
        F.expr("substring(text, 1, k)").alias("prefix"),
    )
    per = pre.groupBy("prefix_chars", "prefix").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        per.groupBy("prefix_chars")
        .agg(
            F.sum("cnt").cast("long").alias("n_prompts"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_prefixes"),
            (F.sum("cnt") - F.count(F.lit(1)))
            .cast("long")
            .alias("cache_hits"),
            F.expr(
                "(SUM(cnt) - COUNT(1)) * 1000 div SUM(cnt)"
            ).alias("hit_rate_milli"),
            F.expr("MAX(cnt) * 1000 div SUM(cnt)").alias(
                "hot_prefix_share_milli"
            ),
        )
        .orderBy("prefix_chars")
    )


@register(
    "wav_vad_segments_report",
    """
    WITH src AS (
        SELECT doc_id AS media_id,
               doc_id % 193 + 64 AS n,
               500 + (doc_id % 997) * 29 AS amp,
               1 + doc_id % 37 AS step,
               doc_id % 101 AS phase
        FROM documents
    ), samp AS (
        -- fixed generate_series bound (max n = 192 + 64 = 256; DuckDB
        -- 1.0 rejects lateral column bounds) + row filter; partial
        -- trailing frames excluded like the Spark walker
        SELECT media_id, g.i AS i,
               CASE WHEN (g.i % 64) < 32
                    THEN ((g.i * step + phase) % (2 * amp)) - amp
                    ELSE 0 END AS s
        FROM src CROSS JOIN generate_series(0, 255) g(i)
        WHERE g.i < (n // 16) * 16
    ), fr AS (
        SELECT media_id, i // 16 AS f, SUM(s * s) AS e
        FROM samp GROUP BY media_id, i // 16
    ), act AS (
        SELECT media_id, f, e FROM fr WHERE e > 0
    ), grp AS (
        SELECT media_id, f, e,
               f - ROW_NUMBER() OVER (
                   PARTITION BY media_id ORDER BY f) AS g
        FROM act
    ), seg AS (
        SELECT media_id, MIN(f) AS start_frame,
               COUNT(*) AS n_frames, SUM(e) AS energy_sum
        FROM grp GROUP BY media_id, g
    )
    SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY media_id ORDER BY start_frame) AS BIGINT)
               AS seg_idx,
           CAST(start_frame AS BIGINT) AS start_frame,
           CAST(n_frames AS BIGINT) AS n_frames,
           CAST(energy_sum AS BIGINT) AS energy_sum
    FROM seg ORDER BY media_id, seg_idx
    """,
    ops=["multimodal-audio", "vad-segmentation", "pcm-dsp"],
)
def wav_vad_segments_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segmentation end-to-end ON BYTES: synthesize a
    burst-gated PCM WAV per document (sawtooth on for 32 samples, off
    for 32 — speech/pause alternation), then DECODE the payload and
    cut maximal runs of energetic 16-sample frames into segments
    (multimodal.wav_pcm_vad_segments) — the clip-splitting pass an
    audio curation pipeline runs before transcription. The oracle
    restates frame energies from the sawtooth's closed form and
    re-derives the islands relationally (row_number run-grouping), so
    the whole synthesize → encode → decode → frame → segment chain is
    hash-verified: segment boundaries, lengths AND exact integer
    energies. In-row transforms + one bounded posexplode; per-clip
    cost bounded by the clip."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    i = F.col("doc_id")
    src = d.select(
        i.alias("media_id"),
        F.lit(8000).cast("long").alias("sample_rate_hz"),
        (i % 193 + 64).alias("n_samples"),
        (F.lit(500) + (i % 997) * 29).alias("amp"),
        (F.lit(1) + i % 37).alias("step"),
        (i % 101).alias("phase"),
        F.lit(32).cast("long").alias("burst"),
    )
    media = multimodal.synthesize_wav_pcm(src, burst_col="burst")
    return multimodal.wav_pcm_vad_segments(
        media, frame=16, min_energy=0
    ).orderBy("media_id", "seg_idx")


@register(
    "fs_em_weight_estimation",
    """
    WITH c AS (
        SELECT c_custkey AS ck, c_nationkey AS nk,
               CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                   // 200000 AS band,
               substr(c_name, length(c_name), 1) AS d1,
               substr(c_name, length(c_name) - 1, 1) AS d2
        FROM customer
    ), s AS (
        SELECT s_suppkey AS sk, s_nationkey AS snk,
               CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                   // 200000 AS band,
               substr(s_name, length(s_name), 1) AS d1,
               substr(s_name, length(s_name) - 1, 1) AS d2
        FROM supplier
    ), pc AS (
        SELECT (CASE WHEN c.band = s.band THEN 4 ELSE 0 END
              + CASE WHEN c.d1 = s.d1 THEN 2 ELSE 0 END
              + CASE WHEN c.d2 = s.d2 THEN 1 ELSE 0 END) AS k,
               COUNT(*) AS n
        FROM c JOIN s ON s.snk = c.nk
        GROUP BY 1
    ), em0 AS (
        SELECT CAST(100000 AS BIGINT) AS p,
               CAST(800000 AS BIGINT) AS m1, CAST(800000 AS BIGINT) AS m2,
               CAST(800000 AS BIGINT) AS m3,
               CAST(300000 AS BIGINT) AS u1, CAST(300000 AS BIGINT) AS u2,
               CAST(300000 AS BIGINT) AS u3
    ),
    em1_w AS (
        SELECT pc.k, pc.n,
               ((pr.p * (((CASE WHEN pc.k // 4 % 2 = 1 THEN pr.m1
                           ELSE 1000000 - pr.m1 END
                         * CASE WHEN pc.k // 2 % 2 = 1 THEN pr.m2
                           ELSE 1000000 - pr.m2 END) // 1000000
                         * CASE WHEN pc.k % 2 = 1 THEN pr.m3
                           ELSE 1000000 - pr.m3 END) // 1000000))
                * 1000000)
               // (pr.p * (((CASE WHEN pc.k // 4 % 2 = 1 THEN pr.m1
                             ELSE 1000000 - pr.m1 END
                           * CASE WHEN pc.k // 2 % 2 = 1 THEN pr.m2
                             ELSE 1000000 - pr.m2 END) // 1000000
                           * CASE WHEN pc.k % 2 = 1 THEN pr.m3
                             ELSE 1000000 - pr.m3 END) // 1000000)
                 + (1000000 - pr.p)
                   * (((CASE WHEN pc.k // 4 % 2 = 1 THEN pr.u1
                        ELSE 1000000 - pr.u1 END
                      * CASE WHEN pc.k // 2 % 2 = 1 THEN pr.u2
                        ELSE 1000000 - pr.u2 END) // 1000000
                      * CASE WHEN pc.k % 2 = 1 THEN pr.u3
                        ELSE 1000000 - pr.u3 END) // 1000000))
                   AS w
        FROM pc CROSS JOIN em0 pr
    ), em1 AS (
        SELECT SUM(n * w) // SUM(n) AS p,
               SUM(CASE WHEN k // 4 % 2 = 1 THEN n * w ELSE 0 END)
                   * 1000000 // SUM(n * w) AS m1,
               SUM(CASE WHEN k // 2 % 2 = 1 THEN n * w ELSE 0 END)
                   * 1000000 // SUM(n * w) AS m2,
               SUM(CASE WHEN k % 2 = 1 THEN n * w ELSE 0 END)
                   * 1000000 // SUM(n * w) AS m3,
               SUM(CASE WHEN k // 4 % 2 = 1 THEN n * (1000000 - w)
                        ELSE 0 END)
                   * 1000000 // SUM(n * (1000000 - w)) AS u1,
               SUM(CASE WHEN k // 2 % 2 = 1 THEN n * (1000000 - w)
                        ELSE 0 END)
                   * 1000000 // SUM(n * (1000000 - w)) AS u2,
               SUM(CASE WHEN k % 2 = 1 THEN n * (1000000 - w)
                        ELSE 0 END)
                   * 1000000 // SUM(n * (1000000 - w)) AS u3
        FROM em1_w
    ),
    em2_w AS (
        SELECT pc.k, pc.n,
               ((pr.p * (((CASE WHEN pc.k // 4 % 2 = 1 THEN pr.m1
                           ELSE 1000000 - pr.m1 END
                         * CASE WHEN pc.k // 2 % 2 = 1 THEN pr.m2
                           ELSE 1000000 - pr.m2 END) // 1000000
                         * CASE WHEN pc.k % 2 = 1 THEN pr.m3
                           ELSE 1000000 - pr.m3 END) // 1000000))
                * 1000000)
               // (pr.p * (((CASE WHEN pc.k // 4 % 2 = 1 THEN pr.m1
                             ELSE 1000000 - pr.m1 END
                           * CASE WHEN pc.k // 2 % 2 = 1 THEN pr.m2
                             ELSE 1000000 - pr.m2 END) // 1000000
                           * CASE WHEN pc.k % 2 = 1 THEN pr.m3
                             ELSE 1000000 - pr.m3 END) // 1000000)
                 + (1000000 - pr.p)
                   * (((CASE WHEN pc.k // 4 % 2 = 1 THEN pr.u1
                        ELSE 1000000 - pr.u1 END
                      * CASE WHEN pc.k // 2 % 2 = 1 THEN pr.u2
                        ELSE 1000000 - pr.u2 END) // 1000000
                      * CASE WHEN pc.k % 2 = 1 THEN pr.u3
                        ELSE 1000000 - pr.u3 END) // 1000000))
                   AS w
        FROM pc CROSS JOIN em1 pr
    ), em2 AS (
        SELECT SUM(n * w) // SUM(n) AS p,
               SUM(CASE WHEN k // 4 % 2 = 1 THEN n * w ELSE 0 END)
                   * 1000000 // SUM(n * w) AS m1,
               SUM(CASE WHEN k // 2 % 2 = 1 THEN n * w ELSE 0 END)
                   * 1000000 // SUM(n * w) AS m2,
               SUM(CASE WHEN k % 2 = 1 THEN n * w ELSE 0 END)
                   * 1000000 // SUM(n * w) AS m3,
               SUM(CASE WHEN k // 4 % 2 = 1 THEN n * (1000000 - w)
                        ELSE 0 END)
                   * 1000000 // SUM(n * (1000000 - w)) AS u1,
               SUM(CASE WHEN k // 2 % 2 = 1 THEN n * (1000000 - w)
                        ELSE 0 END)
                   * 1000000 // SUM(n * (1000000 - w)) AS u2,
               SUM(CASE WHEN k % 2 = 1 THEN n * (1000000 - w)
                        ELSE 0 END)
                   * 1000000 // SUM(n * (1000000 - w)) AS u3
        FROM em2_w
    ),
    em3_w AS (
        SELECT pc.k, pc.n,
               ((pr.p * (((CASE WHEN pc.k // 4 % 2 = 1 THEN pr.m1
                           ELSE 1000000 - pr.m1 END
                         * CASE WHEN pc.k // 2 % 2 = 1 THEN pr.m2
                           ELSE 1000000 - pr.m2 END) // 1000000
                         * CASE WHEN pc.k % 2 = 1 THEN pr.m3
                           ELSE 1000000 - pr.m3 END) // 1000000))
                * 1000000)
               // (pr.p * (((CASE WHEN pc.k // 4 % 2 = 1 THEN pr.m1
                             ELSE 1000000 - pr.m1 END
                           * CASE WHEN pc.k // 2 % 2 = 1 THEN pr.m2
                             ELSE 1000000 - pr.m2 END) // 1000000
                           * CASE WHEN pc.k % 2 = 1 THEN pr.m3
                             ELSE 1000000 - pr.m3 END) // 1000000)
                 + (1000000 - pr.p)
                   * (((CASE WHEN pc.k // 4 % 2 = 1 THEN pr.u1
                        ELSE 1000000 - pr.u1 END
                      * CASE WHEN pc.k // 2 % 2 = 1 THEN pr.u2
                        ELSE 1000000 - pr.u2 END) // 1000000
                      * CASE WHEN pc.k % 2 = 1 THEN pr.u3
                        ELSE 1000000 - pr.u3 END) // 1000000))
                   AS w
        FROM pc CROSS JOIN em2 pr
    ), em3 AS (
        SELECT SUM(n * w) // SUM(n) AS p,
               SUM(CASE WHEN k // 4 % 2 = 1 THEN n * w ELSE 0 END)
                   * 1000000 // SUM(n * w) AS m1,
               SUM(CASE WHEN k // 2 % 2 = 1 THEN n * w ELSE 0 END)
                   * 1000000 // SUM(n * w) AS m2,
               SUM(CASE WHEN k % 2 = 1 THEN n * w ELSE 0 END)
                   * 1000000 // SUM(n * w) AS m3,
               SUM(CASE WHEN k // 4 % 2 = 1 THEN n * (1000000 - w)
                        ELSE 0 END)
                   * 1000000 // SUM(n * (1000000 - w)) AS u1,
               SUM(CASE WHEN k // 2 % 2 = 1 THEN n * (1000000 - w)
                        ELSE 0 END)
                   * 1000000 // SUM(n * (1000000 - w)) AS u2,
               SUM(CASE WHEN k % 2 = 1 THEN n * (1000000 - w)
                        ELSE 0 END)
                   * 1000000 // SUM(n * (1000000 - w)) AS u3
        FROM em3_w
    )
    SELECT t.it, CAST(t.p AS BIGINT) AS p_micro,
           CAST(t.m1 AS BIGINT) AS m1_micro,
           CAST(t.m2 AS BIGINT) AS m2_micro,
           CAST(t.m3 AS BIGINT) AS m3_micro,
           CAST(t.u1 AS BIGINT) AS u1_micro,
           CAST(t.u2 AS BIGINT) AS u2_micro,
           CAST(t.u3 AS BIGINT) AS u3_micro
    FROM (
        SELECT CAST(1 AS BIGINT) AS it, * FROM em1
        UNION ALL SELECT CAST(2 AS BIGINT) AS it, * FROM em2
        UNION ALL SELECT CAST(3 AS BIGINT) AS it, * FROM em3
    ) t
    ORDER BY t.it
""",
    ops=["fellegi-sunter", "em-estimation", "entity-resolution"],
)
def fs_em_weight_estimation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNSUPERVISED Fellegi-Sunter parameter estimation — the EM
    algorithm of Winkler (1988) that learns the m/u probabilities the
    score histogram (fs_linkage_score_histogram) consumes, closing the
    linkage arc blocking → scoring → PARAMETER ESTIMATION. The insight
    that makes it scale: under conditional independence the E-step
    depends on a pair only through its binary comparator PATTERN, so
    the corpus of candidate pairs collapses to EIGHT pattern counts in
    one blocked-join aggregate, and each EM iteration is arithmetic
    over that 8-row relation crossed with the 1-row parameter state —
    iteration cost is O(1) regardless of corpus size (a trillion pairs
    and six pairs run the same three EM steps). All probabilities are
    micro fixed point with a DOCUMENTED evaluation order (two chained
    ``(a*b) div 1e6`` steps for the 3-factor products; weight =
    ``num*1e6 div den`` with den ≤ 1e12·2 and num·1e6 ≤ ~1e18, inside
    BIGINT), so the learned parameter TRAJECTORY itself — three
    iterations of (p, m1..m3, u1..u3) — is hash-checked against the
    oracle's unrolled CTE chain."""
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")

    def prep(df, nk, bal, name):
        return df.select(
            F.col(nk).alias("nk"),
            F.expr(
                f"CAST(CAST({bal} AS DECIMAL(18,2)) * 100 AS BIGINT)"
                " div 200000"
            ).alias("band"),
            F.substring(F.col(name), -1, 1).alias("d1"),
            F.expr(f"substr({name}, length({name}) - 1, 1)").alias("d2"),
        )

    cc = prep(c, "c_nationkey", "c_acctbal", "c_name")
    ss = prep(s, "s_nationkey", "s_acctbal", "s_name").select(
        F.col("nk").alias("snk"), F.col("band").alias("sband"),
        F.col("d1").alias("sd1"), F.col("d2").alias("sd2"),
    )
    pairs = cc.join(F.broadcast(ss), F.col("nk") == F.col("snk"))
    pc = pairs.select(
        (
            F.when(F.col("band") == F.col("sband"), 4).otherwise(0)
            + F.when(F.col("d1") == F.col("sd1"), 2).otherwise(0)
            + F.when(F.col("d2") == F.col("sd2"), 1).otherwise(0)
        ).cast("long").alias("k")
    ).groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("n")) \
        .localCheckpoint()
    # ^ the 8-row pattern relation feeds all three chained EM levels;
    # unstaged, each level re-derived the blocked pair join (r12
    # rescan audit: 6 customer+supplier scans). The checkpoint is one
    # 8-row job; the pair join is the corpus-scale part.

    params = spark.range(1).select(
        F.lit(100000).cast("long").alias("p"),
        F.lit(800000).cast("long").alias("m1"),
        F.lit(800000).cast("long").alias("m2"),
        F.lit(800000).cast("long").alias("m3"),
        F.lit(300000).cast("long").alias("u1"),
        F.lit(300000).cast("long").alias("u2"),
        F.lit(300000).cast("long").alias("u3"),
    )

    trajectory = None
    cur = params
    for it in (1, 2, 3):
        w_rows = pc.crossJoin(F.broadcast(cur)).select(
            "k", "n",
            F.expr(
                "((p * (((CASE WHEN k div 4 % 2 = 1 THEN m1"
                " ELSE 1000000 - m1 END"
                " * CASE WHEN k div 2 % 2 = 1 THEN m2"
                " ELSE 1000000 - m2 END) div 1000000"
                " * CASE WHEN k % 2 = 1 THEN m3"
                " ELSE 1000000 - m3 END) div 1000000)) * 1000000)"
                " div (p * (((CASE WHEN k div 4 % 2 = 1 THEN m1"
                " ELSE 1000000 - m1 END"
                " * CASE WHEN k div 2 % 2 = 1 THEN m2"
                " ELSE 1000000 - m2 END) div 1000000"
                " * CASE WHEN k % 2 = 1 THEN m3"
                " ELSE 1000000 - m3 END) div 1000000)"
                " + (1000000 - p)"
                " * (((CASE WHEN k div 4 % 2 = 1 THEN u1"
                " ELSE 1000000 - u1 END"
                " * CASE WHEN k div 2 % 2 = 1 THEN u2"
                " ELSE 1000000 - u2 END) div 1000000"
                " * CASE WHEN k % 2 = 1 THEN u3"
                " ELSE 1000000 - u3 END) div 1000000))"
            ).alias("w"),
        )
        cur = w_rows.agg(
            F.expr("SUM(n * w) div SUM(n)").alias("p"),
            F.expr(
                "SUM(CASE WHEN k div 4 % 2 = 1 THEN n * w ELSE 0 END)"
                " * 1000000 div SUM(n * w)").alias("m1"),
            F.expr(
                "SUM(CASE WHEN k div 2 % 2 = 1 THEN n * w ELSE 0 END)"
                " * 1000000 div SUM(n * w)").alias("m2"),
            F.expr(
                "SUM(CASE WHEN k % 2 = 1 THEN n * w ELSE 0 END)"
                " * 1000000 div SUM(n * w)").alias("m3"),
            F.expr(
                "SUM(CASE WHEN k div 4 % 2 = 1 THEN n * (1000000 - w)"
                " ELSE 0 END) * 1000000 div SUM(n * (1000000 - w))"
            ).alias("u1"),
            F.expr(
                "SUM(CASE WHEN k div 2 % 2 = 1 THEN n * (1000000 - w)"
                " ELSE 0 END) * 1000000 div SUM(n * (1000000 - w))"
            ).alias("u2"),
            F.expr(
                "SUM(CASE WHEN k % 2 = 1 THEN n * (1000000 - w)"
                " ELSE 0 END) * 1000000 div SUM(n * (1000000 - w))"
            ).alias("u3"),
        )
        row = cur.select(
            F.lit(it).cast("long").alias("it"),
            F.col("p").alias("p_micro"),
            F.col("m1").alias("m1_micro"),
            F.col("m2").alias("m2_micro"),
            F.col("m3").alias("m3_micro"),
            F.col("u1").alias("u1_micro"),
            F.col("u2").alias("u2_micro"),
            F.col("u3").alias("u3_micro"),
        )
        trajectory = row if trajectory is None else trajectory.unionByName(row)
    return trajectory.orderBy("it")


@register(
    "source_loo_value_report",
    """
    WITH q AS (
        SELECT source,
               CASE WHEN n_chars BETWEEN 150 AND 400 THEN 1 ELSE 0 END
                   AS pass
        FROM documents
    ), per AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(pass) AS BIGINT) AS n_pass
        FROM q GROUP BY source
    ), tot AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS n_all,
               CAST(SUM(n_pass) AS BIGINT) AS pass_all
        FROM per
    )
    SELECT per.source, per.n_docs, per.n_pass,
           pass_all * 1000000 // n_all AS metric_all_micro,
           (pass_all - n_pass) * 1000000 // (n_all - n_docs)
               AS metric_without_micro,
           (pass_all - n_pass) * 1000000 // (n_all - n_docs)
             - pass_all * 1000000 // n_all AS loo_value_micro
    FROM per CROSS JOIN tot ORDER BY per.source
    """,
    ops=["data-valuation", "leave-one-out", "source-quality"],
)
def source_loo_value_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out DATA VALUATION per source — the cheapest member
    of the Shapley family and the first question a corpus owner asks
    before cutting a supplier: how does the corpus quality metric move
    if source s is dropped? Because the metric (pass-rate of a length
    gate) is a ratio of sums, every LOO counterfactual comes from the
    SAME single grouped pass — ``(pass_all − pass_s) / (n_all − n_s)``
    — no per-source rescan, no retraining loop: one groupBy(source),
    one 1-row totals broadcast, micro fixed point with truncating div.
    Positive loo_value means the corpus improves without the source
    (the drop list); the full Shapley expansion replaces the single
    metric with per-coalition ones but keeps this exact aggregation
    shape."""
    d = _t(spark, sf_dir, "documents")
    q = d.select(
        "source",
        F.when(
            (F.col("n_chars") >= 150) & (F.col("n_chars") <= 400), 1
        ).otherwise(0).alias("pass"),
    )
    per = q.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("pass").cast("long").alias("n_pass"),
    )
    tot = per.agg(
        F.sum("n_docs").cast("long").alias("n_all"),
        F.sum("n_pass").cast("long").alias("pass_all"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source", "n_docs", "n_pass",
            F.expr("pass_all * 1000000 div n_all").alias(
                "metric_all_micro"),
            F.expr(
                "(pass_all - n_pass) * 1000000 div (n_all - n_docs)"
            ).alias("metric_without_micro"),
            F.expr(
                "(pass_all - n_pass) * 1000000 div (n_all - n_docs)"
                " - pass_all * 1000000 div n_all"
            ).alias("loo_value_micro"),
        )
        .orderBy("source")
    )


@register(
    "ips_policy_value_report",
    """
    WITH log AS (
        SELECT event_type AS action,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS r_cents,
               CASE event_type
                    WHEN 'view' THEN 300 WHEN 'click' THEN 250
                    WHEN 'purchase' THEN 200 WHEN 'signup' THEN 150
                    ELSE 100 END AS p_log_milli,
               ['view', 'click', 'purchase', 'signup', 'error']
               [CAST(('0x' || substr(md5('pi:' ||
                    CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 5
                    AS INTEGER) + 1] AS pi_action
        FROM events
    )
    SELECT action,
           CAST(MAX(p_log_milli) AS BIGINT) AS p_log_milli,
           CAST(COUNT(*) AS BIGINT) AS n_logged,
           CAST(SUM(CASE WHEN pi_action = action THEN 1 ELSE 0 END)
                AS BIGINT) AS n_matched,
           CAST(SUM(CASE WHEN pi_action = action
                         THEN 1000000 // p_log_milli ELSE 0 END)
                AS BIGINT) AS w_sum_milli,
           CAST(SUM(CASE WHEN pi_action = action
                         THEN r_cents * (1000000 // p_log_milli)
                         ELSE 0 END) AS BIGINT) AS wr_sum_milli_cents,
           CAST(CASE WHEN SUM(CASE WHEN pi_action = action
                                   THEN 1000000 // p_log_milli
                                   ELSE 0 END) > 0
                THEN SUM(CASE WHEN pi_action = action
                              THEN r_cents * (1000000 // p_log_milli)
                              ELSE 0 END) * 1000
                     // SUM(CASE WHEN pi_action = action
                                 THEN 1000000 // p_log_milli
                                 ELSE 0 END)
                ELSE 0 END AS BIGINT) AS snips_value_milli_cents
    FROM log GROUP BY action ORDER BY action
    """,
    ops=["off-policy-evaluation", "ips-snips", "counterfactual"],
)
def ips_policy_value_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counterfactual (off-policy) evaluation — IPS / self-normalized
    IPS (Horvitz-Thompson; SNIPS per Swaminathan & Joachims 2015): the
    replay estimator an RLHF / recommender team uses to score a NEW
    policy on OLD logs without serving it. Each event is a logged
    (context=user, action=event_type, reward=value) tuple with known
    per-action logging propensities; the target policy is a
    deterministic hash of the user (portable md5). Per action the
    report carries the matched count, the importance-weight mass
    Σ1/p, the weighted reward ΣrW, and the SNIPS value ΣrW/ΣW — all
    exact integers (cents × milli weights; truncating div), so the
    counterfactual estimates themselves are hash-checked. The
    propensity-weight floor is what keeps IPS sane at scale: weights
    are bounded by 1/min(p) = 10, so no row dominates a partial sum —
    one map-side derivation, one groupBy(action), no joins."""
    e = _t(spark, sf_dir, "events")
    actions = F.array(
        F.lit("view"), F.lit("click"), F.lit("purchase"),
        F.lit("signup"), F.lit("error"),
    )
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("pi:"),
                               F.col("user_id").cast("string"))), 1, 8
            ),
            16, 10,
        ).cast("long") % 5
    )
    p_log = (
        F.when(F.col("event_type") == "view", 300)
        .when(F.col("event_type") == "click", 250)
        .when(F.col("event_type") == "purchase", 200)
        .when(F.col("event_type") == "signup", 150)
        .otherwise(100)
    ).cast("long")
    log = e.select(
        F.col("event_type").alias("action"),
        F.expr(
            "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("r_cents"),
        p_log.alias("p_log_milli"),
        F.element_at(actions, (h + 1).cast("int")).alias("pi_action"),
    )
    m = F.col("pi_action") == F.col("action")
    w = F.expr("1000000 div p_log_milli")
    return (
        log.groupBy("action")
        .agg(
            F.max("p_log_milli").cast("long").alias("p_log_milli"),
            F.count(F.lit(1)).cast("long").alias("n_logged"),
            F.sum(F.when(m, 1).otherwise(0)).cast("long")
            .alias("n_matched"),
            F.sum(F.when(m, w).otherwise(0)).cast("long")
            .alias("w_sum_milli"),
            F.sum(F.when(m, F.col("r_cents") * w).otherwise(0))
            .cast("long").alias("wr_sum_milli_cents"),
        )
        .select(
            "action", "p_log_milli", "n_logged", "n_matched",
            "w_sum_milli", "wr_sum_milli_cents",
            F.when(
                F.col("w_sum_milli") > 0,
                F.expr("wr_sum_milli_cents * 1000 div w_sum_milli"),
            ).otherwise(F.lit(0)).cast("long")
            .alias("snips_value_milli_cents"),
        )
        .orderBy("action")
    )


@register(
    "hash_bootstrap_revenue_ci",
    """
    WITH u AS (
        SELECT b.b AS b,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents,
               ('0x' || substr(md5('bs:' || CAST(b.b // 4 AS VARCHAR)
                    || ':' || CAST(o_orderkey AS VARCHAR)),
                    1 + 8 * CAST(b.b % 4 AS INTEGER), 8)
               )::BIGINT % 1000 AS u
        FROM orders CROSS JOIN generate_series(0, 31) b(b)
    ), w AS (
        SELECT b, cents,
               CASE WHEN u < 368 THEN 0 WHEN u < 736 THEN 1
                    WHEN u < 920 THEN 2 ELSE 3 END AS wt
        FROM u
    ), rep AS (
        SELECT b, CAST(SUM(wt) AS BIGINT) AS n_eff,
               CAST(SUM(wt * cents) // SUM(wt) AS BIGINT)
                   AS mean_cents
        FROM w GROUP BY b
    )
    SELECT CAST(b AS BIGINT) AS replica, n_eff, mean_cents,
           CAST(ROW_NUMBER() OVER (ORDER BY mean_cents, b) AS BIGINT)
               AS mean_rank
    FROM rep ORDER BY replica
    """,
    ops=["bootstrap", "poisson-resampling", "confidence-interval"],
)
def hash_bootstrap_revenue_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap (Chamandy et al. 2012 — THE resampling scheme
    for map-reduce: each replica draws a per-row Poisson(1) count
    instead of sampling n-of-n, so replicas stream in one pass) made
    DETERMINISTIC: the per-(replica, order) resample count comes from
    the portable md5 bucket quantized to the Poisson(1) pmf
    (368/368/184/61 per mille for 0/1/2/3+). 32 replica means of the
    order-value statistic in exact cents; ``mean_rank`` orders the
    replica means so the percentile CI is a rank filter away (ranks
    2 and 31 ≈ the 94% interval). One 32-way explode + one grouped
    aggregate — resampling inference with zero extra passes over the
    data; the rank window runs over the 32-ROW replica aggregate,
    never the data."""
    # fanout=True (r14 opt): the 32-way replica explode and its 32
    # md5/row run ABOVE this scan, and the sf0.1 orders parquet is one
    # ~2.7 MB file = ONE scan partition — without the respread the
    # whole exploded map stage executed on a single core (measured
    # 5.2-5.9 s vs 1.0 s respread, interleaved). This is exactly the
    # explode-heavy case the fanout flag documents. Two in-row
    # rewrites that compute the 32 weights BEFORE the explode (8
    # md5/order instead of 32) both measured SLOWER (array-of-32
    # when-chains: 7.5-24 s — generator-input arrays defeat
    # whole-stage pipelining); the explode-then-compute shape with the
    # scan respread is the measured optimum, and every digest/value
    # the oracle recomputes is unchanged.
    o = _t(spark, sf_dir, "orders", fanout=True)
    b = F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b")
    w = o.select(
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("cents"),
        F.col("o_orderkey"),
        b,
    ).select(
        "cents",
        F.col("b").cast("long").alias("b"),
        # one md5 feeds FOUR replicas (8 hex chars each of the 32-char
        # digest); the replica group b div 4 is in the seed, the lane
        # b % 4 picks the slice
        (
            F.conv(
                F.expr(
                    "substring(md5(concat('bs:', CAST(b div 4 AS"
                    " STRING), ':', CAST(o_orderkey AS STRING))),"
                    " 1 + 8 * CAST(b % 4 AS INT), 8)"
                ),
                16, 10,
            ).cast("long") % 1000
        ).alias("u"),
    ).select(
        "b", "cents",
        F.when(F.col("u") < 368, 0)
        .when(F.col("u") < 736, 1)
        .when(F.col("u") < 920, 2)
        .otherwise(3).cast("long").alias("wt"),
    )
    rep = w.groupBy("b").agg(
        F.sum("wt").cast("long").alias("n_eff"),
        F.expr("CAST(SUM(wt * cents) div SUM(wt) AS BIGINT)").alias(
            "mean_cents"
        ),
    )
    return rep.select(
        F.col("b").alias("replica"),
        "n_eff",
        "mean_cents",
        F.row_number()
        .over(Window.orderBy("mean_cents", "b"))
        .cast("long")
        .alias("mean_rank"),
    ).orderBy("replica")


@register(
    "streaming_pyds_sink_e2e",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS value_cents
    FROM events WHERE event_type <> 'error'
    GROUP BY event_type ORDER BY event_type
    """,
    ops=["streaming-e2e", "python-datasource-sink", "epoch-manifest"],
)
def streaming_pyds_sink_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 10th streaming e2e — and the first through the PYTHON
    DATASOURCE STREAM SINK: events file-stream (several micro-batches)
    → filter → ``writeStream.format("jsonl_dir")`` (per-epoch atomic
    ``_MANIFEST-{batch}.json``, two-phase task commit,
    sinks/pyds_writer.py:JsonlDirStreamWriter) → read back ONLY the
    files the epoch manifests name → aggregate. The oracle is the
    plain SQL over the events table, so it hash-matches only if every
    row landed exactly once across all epochs and the manifests
    describe the sink completely — the exactly-once-per-epoch
    visibility contract, proven through the correctness gate rather
    than asserted. Values rehydrate from the sink's JSON (strings) via
    the exact-cents decimal path."""
    import os as _os

    from ..sinks.pyds_writer import (
        read_stream_manifests,
        register_jsonl_dir,
    )
    from ..streaming import drain, file_stream

    register_jsonl_dir(spark)
    e = _t(spark, sf_dir, "events")
    work = scratch_dir("pyds_sink", sf_dir, clean=True)
    src_dir = f"{work}/src"
    out = f"{work}/out"
    e.repartition(4).write.mode("overwrite").parquet(src_dir)
    stream = (
        file_stream(spark, e.schema, src_dir, 2)
        .filter(F.col("event_type") != "error")
        .select("event_id", "event_type", "value")
    )
    drain(
        stream.writeStream.format("jsonl_dir")
        .option("path", out)
        .option("checkpointLocation", f"{work}/ckpt")
        .outputMode("append")
    )
    files = [
        _os.path.join(out, p["file"])
        for m in read_stream_manifests(out)
        for p in m["parts"]
        if p["n_rows"] > 0
    ]
    back = spark.read.schema(
        "event_id long, event_type string, value string"
    ).json(files)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(
                F.expr(
                    "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"
                )
            ).cast("long").alias("value_cents"),
        )
        .orderBy("event_type")
    )


@register(
    "ece_calibration_report",
    """
    WITH sc AS (
        SELECT ('0x' || substr(md5('cf:' || CAST(doc_id AS VARCHAR)),
                               1, 8))::BIGINT % 1001 AS conf_milli,
               CASE WHEN (doc_id * 13 + 5) % 97 <
                         (('0x' || substr(md5('cf:' ||
                              CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                          % 1001) * 97 // 1000
                    THEN 1 ELSE 0 END AS label
        FROM documents
    ), b AS (
        SELECT CASE WHEN conf_milli = 1000 THEN 9
                    ELSE CAST(conf_milli // 100 AS BIGINT) END AS bin,
               conf_milli, label
        FROM sc
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(conf_milli) AS BIGINT) AS conf_sum_milli,
           CAST(SUM(label) AS BIGINT) AS n_correct,
           CAST(SUM(conf_milli) // COUNT(*)
              - SUM(label) * 1000 // COUNT(*) AS BIGINT) AS gap_milli
    FROM b GROUP BY bin ORDER BY bin
    """,
    ops=["calibration", "ece", "model-eval"],
)
def ece_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected-calibration-error report — the binned reliability
    diagram behind the ECE metric (Guo et al. 2017), next to the
    proper-scoring brier_calibration_report: md5-derived confidences
    in milli, labels drawn so accuracy TRACKS confidence (the modular
    comparison makes P(label=1) ≈ conf by construction — the gap
    column is the miscalibration the report exists to expose), ten
    equal-width bins with per-bin count, confidence mass, correct
    count, and the signed confidence−accuracy gap in milli (truncating
    div both engines; ECE = Σ n_b·|gap_b| / N is one more exact
    aggregate away). One map-side derivation + one grouped pass."""
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    conf = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("cf:"), i.cast("string"))), 1, 8
            ),
            16, 10,
        ).cast("long") % 1001
    )
    sc = d.select(
        conf.alias("conf_milli"),
        F.when(
            (i * 13 + 5) % 97
            < F.expr(
                "(conv(substring(md5(concat('cf:', CAST(doc_id AS"
                " STRING))), 1, 8), 16, 10) % 1001) * 97 div 1000"
            ),
            1,
        ).otherwise(0).alias("label"),
    )
    b = sc.select(
        F.when(F.col("conf_milli") == 1000, 9)
        .otherwise(F.expr("conf_milli div 100"))
        .cast("long")
        .alias("bin"),
        "conf_milli",
        "label",
    )
    return (
        b.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("conf_milli").cast("long").alias("conf_sum_milli"),
            F.sum("label").cast("long").alias("n_correct"),
            F.expr(
                "CAST(SUM(conf_milli) div COUNT(1)"
                " - SUM(label) * 1000 div COUNT(1) AS BIGINT)"
            ).alias("gap_milli"),
        )
        .orderBy("bin")
    )


@register(
    "worst_group_metric_report",
    """
    WITH g AS (
        SELECT lang, source,
               CASE WHEN n_chars BETWEEN 150 AND 400 THEN 1 ELSE 0 END
                   AS pass
        FROM documents
    ), per AS (
        SELECT lang, source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(pass) AS BIGINT) AS n_pass,
               CAST(SUM(pass) * 1000000 // COUNT(*) AS BIGINT)
                   AS rate_micro
        FROM g GROUP BY lang, source
    ), tot AS (
        SELECT CAST(SUM(n_pass) * 1000000 // SUM(n_docs) AS BIGINT)
                   AS mean_micro
        FROM per
    )
    SELECT per.lang, per.source, per.n_docs, per.n_pass,
           per.rate_micro, tot.mean_micro,
           CAST(per.rate_micro - tot.mean_micro AS BIGINT) AS gap_micro
    FROM per CROSS JOIN tot
    ORDER BY per.rate_micro, per.lang, per.source LIMIT 10
    """,
    ops=["worst-group", "group-robustness", "eval-slicing"],
)
def worst_group_metric_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Worst-group robustness slicing — the group-DRO eval view: the
    quality metric per (lang, source) group, the corpus mean, and each
    group's signed gap, bottom-10 groups first (the slices a
    robustness-minded curation pass fixes before they become model
    regressions; mean-only reporting hides them). One grouped pass +
    one 1-row mean broadcast; TakeOrdered bottom-k with full
    tiebreaks. Group count is bounded by the (lang, source) product,
    so state never tracks corpus size."""
    d = _t(spark, sf_dir, "documents")
    g = d.select(
        "lang",
        "source",
        F.when(
            (F.col("n_chars") >= 150) & (F.col("n_chars") <= 400), 1
        ).otherwise(0).alias("pass"),
    )
    per = g.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("pass").cast("long").alias("n_pass"),
        F.expr("SUM(pass) * 1000000 div COUNT(1)").alias("rate_micro"),
    )
    tot = per.agg(
        F.expr("SUM(n_pass) * 1000000 div SUM(n_docs)").alias(
            "mean_micro"
        )
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "lang", "source", "n_docs", "n_pass", "rate_micro",
            "mean_micro",
            (F.col("rate_micro") - F.col("mean_micro")).alias(
                "gap_micro"
            ),
        )
        .orderBy("rate_micro", "lang", "source")
        .limit(10)
    )


@register(
    "sample_scaling_curve_report",
    """
    WITH h AS (
        SELECT ('0x' || substr(md5('lc:' || CAST(doc_id AS VARCHAR)),
                               1, 8))::BIGINT % 1000 AS bucket,
               CASE WHEN n_chars BETWEEN 150 AND 400 THEN 1 ELSE 0 END
                   AS pass
        FROM documents
    ), arms AS (
        SELECT f.f AS frac_milli, bucket, pass
        FROM h CROSS JOIN (VALUES (125), (250), (500), (1000)) f(f)
        WHERE bucket < f.f
    )
    SELECT CAST(frac_milli AS BIGINT) AS frac_milli,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(pass) AS BIGINT) AS n_pass,
           CAST(SUM(pass) * 1000000 // COUNT(*) AS BIGINT) AS rate_micro
    FROM arms GROUP BY frac_milli ORDER BY frac_milli
    """,
    ops=["learning-curve", "nested-sampling", "data-scaling"],
)
def sample_scaling_curve_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-scaling (learning-curve) report over NESTED deterministic
    samples — the "is more data still buying anything" planning view:
    hash buckets give 12.5/25/50/100% subsets where each smaller
    sample is a strict subset of every larger one (the same md5 bucket
    thresholded at four levels — nesting is what makes the curve
    comparable, independent resamples would confound it), and the
    quality metric is computed per arm in ONE scan (explode to the
    arms whose threshold admits the bucket, then one grouped pass).
    Swap the pass-rate for a trained-model metric and this is the
    scaling-law harness shape."""
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    h = d.select(
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("lc:"), i.cast("string"))), 1, 8
                ),
                16, 10,
            ).cast("long") % 1000
        ).alias("bucket"),
        F.when(
            (F.col("n_chars") >= 150) & (F.col("n_chars") <= 400), 1
        ).otherwise(0).alias("pass"),
    )
    arms = h.select(
        "bucket",
        "pass",
        F.explode(
            F.array(F.lit(125), F.lit(250), F.lit(500), F.lit(1000))
        ).alias("frac_milli"),
    ).filter(F.col("bucket") < F.col("frac_milli"))
    return (
        arms.groupBy("frac_milli")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("pass").cast("long").alias("n_pass"),
            F.expr("SUM(pass) * 1000000 div COUNT(1)").alias(
                "rate_micro"
            ),
        )
        .select(
            F.col("frac_milli").cast("long").alias("frac_milli"),
            "n_docs", "n_pass", "rate_micro",
        )
        .orderBy("frac_milli")
    )


__all__ = [n for n in globals() if not n.startswith("__")]
