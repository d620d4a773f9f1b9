"""Query registry — part 7/8 of the mechanical queries.py split.

Contiguous slice of the original module; see queries/_core.py for
the chaining scheme. Do not reorder across parts — registration
order is the driver-window rotation order.
"""

from __future__ import annotations

from ._p06 import *  # noqa: F401,F403



@register(
    "spearman_price_qty_by_nation",
    """
    WITH base AS (
        SELECT s.s_nationkey,
               CAST(l.l_extendedprice AS DECIMAL(18,2)) AS x,
               CAST(l.l_quantity AS DECIMAL(18,2)) AS y
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
    ), ranked AS (
        -- doubled average rank (2*rank + ties - 1) stays an exact
        -- integer under ties, so every moment below is exact
        SELECT s_nationkey,
               2 * RANK() OVER (PARTITION BY s_nationkey ORDER BY x)
                   + COUNT(*) OVER (PARTITION BY s_nationkey, x) - 1
                   AS dx,
               2 * RANK() OVER (PARTITION BY s_nationkey ORDER BY y)
                   + COUNT(*) OVER (PARTITION BY s_nationkey, y) - 1
                   AS dy
        FROM base
    ), sums AS (
        SELECT s_nationkey,
               COUNT(*) AS n_lines,
               CAST(SUM(dx) AS BIGINT) AS sx,
               CAST(SUM(dy) AS BIGINT) AS sy,
               CAST(SUM(dx * dx) AS BIGINT) AS sxx,
               CAST(SUM(dy * dy) AS BIGINT) AS syy,
               CAST(SUM(dx * dy) AS BIGINT) AS sxy
        FROM ranked GROUP BY s_nationkey
    )
    SELECT n_name, n_lines,
           CAST(FLOOR(
               (CAST(n_lines AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (sqrt(CAST(n_lines AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * sqrt(CAST(n_lines AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               * 1000000.0) AS BIGINT) AS spearman_fp6
    FROM sums JOIN nation ON s_nationkey = n_nationkey
    """,
    ops=["A3", "stats-corr", "stats-rank", "J1"],
)
def spearman_price_qty_by_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spearman rank correlation per nation — the robust (monotone,
    outlier-insensitive) sibling of nation_price_qty_corr's Pearson.
    Average ranks under ties are carried DOUBLED (2·rank + ties − 1),
    which keeps them integers, so all five moment sums are exact
    BIGINTs; the correlation itself is the same fixed-order double
    expression as the Pearson query (IEEE sqrt is correctly rounded,
    so both engines produce the identical double), surfaced as
    floor(ρ·10^6). Two rank windows per nation = two partition sorts,
    no driver state."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    base = l.join(
        F.broadcast(s.select("s_suppkey", "s_nationkey")),
        F.col("l_suppkey") == F.col("s_suppkey"),
    ).select(
        "s_nationkey",
        _dec2("l_extendedprice").alias("x"),
        _dec2("l_quantity").alias("y"),
    )
    wx = Window.partitionBy("s_nationkey").orderBy("x")
    wy = Window.partitionBy("s_nationkey").orderBy("y")
    tx = Window.partitionBy("s_nationkey", "x")
    ty = Window.partitionBy("s_nationkey", "y")
    ranked = base.select(
        "s_nationkey",
        (2 * F.rank().over(wx) + F.count(F.lit(1)).over(tx) - 1)
        .cast("long")
        .alias("dx"),
        (2 * F.rank().over(wy) + F.count(F.lit(1)).over(ty) - 1)
        .cast("long")
        .alias("dy"),
    )
    sums = ranked.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
    )
    n_ = F.col("n_lines").cast("double")
    num = n_ * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    vx = n_ * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx").cast("double")
    vy = n_ * F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy").cast("double")
    return sums.join(
        F.broadcast(nation),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select(
        "n_name",
        "n_lines",
        F.floor(num / (F.sqrt(vx) * F.sqrt(vy)) * 1000000.0)
        .cast("long")
        .alias("spearman_fp6"),
    )


@register(
    "maxsim_late_interaction_topk",
    f"""
    WITH words AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents
    ), toks AS (
        -- bounded unroll (max 100 words in this corpus; DuckDB range()
        -- rejects lateral arguments)
        SELECT w.doc_id, (i.i - 1) // 32 AS chunk_id, md5(w.ws[i.i]) AS h
        FROM words w
        CROSS JOIN (SELECT unnest(range(1, 129)) AS i) i
        WHERE i.i <= len(w.ws)
    ), comps AS (
        SELECT doc_id, chunk_id,
               CAST({_FH_BUCKET} AS INTEGER) AS bucket,
               CAST(SUM(CASE WHEN substr(h, 7, 1) IN {_FH_ODD}
                        THEN 1 ELSE -1 END) AS BIGINT) AS comp
        FROM toks GROUP BY doc_id, chunk_id, bucket
    ), q AS (
        SELECT chunk_id AS q_chunk, bucket, comp AS q_comp
        FROM comps WHERE doc_id = 0
    ), dots AS (
        SELECT c.doc_id, c.chunk_id, q.q_chunk,
               CAST(SUM(c.comp * q.q_comp) AS BIGINT) AS dot
        FROM comps c JOIN q ON c.bucket = q.bucket
        WHERE c.doc_id <> 0
        GROUP BY c.doc_id, c.chunk_id, q.q_chunk
    ), ms AS (
        SELECT doc_id, q_chunk, GREATEST(MAX(dot), 0) AS m
        FROM dots GROUP BY doc_id, q_chunk
    ), scores AS (
        SELECT doc_id, CAST(SUM(m) AS BIGINT) AS score
        FROM ms GROUP BY doc_id
    ), ranked AS (
        SELECT doc_id, score,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        FROM scores
    )
    SELECT CAST(rank AS INTEGER) AS rank, doc_id, score
    FROM ranked WHERE rank <= 10
    """,
    ops=["ann-maxsim", "late-interaction", "feature-hashing", "top-k"],
)
def maxsim_late_interaction_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Late-interaction retrieval (ColBERT's MaxSim scoring shape,
    model-free — operators/similarity.py:maxsim_topk): 32-word chunks
    get signed feature-hash vectors, candidates score
    Σ_query-chunk relu(max chunk dot) against doc 0's chunks, top-10 by
    (score desc, id). The dots come from a bucket-key join against the
    BROADCAST query components — sparse evaluation, never a dense pair
    loop — and every score is an exact integer, so the whole retrieval
    ranking is oracle-checked."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    return similarity.maxsim_topk(
        d, query_doc_id=0, k=10, chunk_words=32, dim=64
    )


@register(
    "cdc_chunk_dedup_histogram",
    """
    WITH docs AS (
        SELECT doc_id, text, length(text) AS n FROM documents
    ), pos AS (
        -- fixed unroll bound (max text length is <600 in this corpus);
        -- DuckDB rejects lateral args to range(), so bound + filter
        SELECT CAST(unnest(range(8, 601)) AS INTEGER) AS p
    ), bounds AS (
        SELECT d.doc_id, p
        FROM docs d JOIN pos ON p < d.n
        WHERE substring(md5(substring(d.text, p - 7, 8)), 1, 1) = '0'
    ), starts AS (
        SELECT doc_id, 1 AS s FROM docs
        UNION ALL SELECT doc_id, p + 1 FROM bounds
    ), ordered AS (
        SELECT st.doc_id, st.s,
               LEAD(st.s) OVER (PARTITION BY st.doc_id ORDER BY st.s)
                   AS next_s,
               d.n, d.text
        FROM starts st JOIN docs d USING (doc_id)
    ), chunks AS (
        SELECT doc_id,
               COALESCE(next_s - 1, n) - s + 1 AS clen,
               md5(substring(text, s, COALESCE(next_s - 1, n) - s + 1))
                   AS chash
        FROM ordered
    ), per AS (
        SELECT chash, COUNT(*) AS n_occurrences, MIN(clen) AS clen
        FROM chunks GROUP BY chash
    )
    SELECT n_occurrences,
           COUNT(*) AS n_chunks,
           CAST(SUM(clen) AS BIGINT) AS distinct_chars,
           CAST(SUM(clen * n_occurrences) AS BIGINT) AS total_chars,
           CAST(SUM(clen * (n_occurrences - 1)) AS BIGINT)
               AS dedup_savings_chars
    FROM per GROUP BY n_occurrences
    """,
    ops=["dedup-cdc-chunks", "binary-codec", "A3"],
)
def cdc_chunk_dedup_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (rsync/FastCDC-style rolling-hash
    boundaries — operators/dedup.py:content_defined_chunks) as a
    storage-dedup estimate: chunks whose boundaries depend on content
    survive byte shifts, so the occurrence histogram of chunk hashes
    (with the char savings a dedup store would realize per occurrence
    class) is the shift-robust duplication profile of the corpus. The
    oracle rebuilds the identical chunking with a bounded position
    unroll + LEAD window; the Spark side stays in-row until the single
    chunk-hash shuffle."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    chunks = dedup.content_defined_chunks(d, window=8)
    per = chunks.groupBy("chash").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.min("clen").alias("clen"),
    )
    return per.groupBy("n_occurrences").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("clen").cast("long").alias("distinct_chars"),
        F.sum(F.col("clen") * F.col("n_occurrences"))
        .cast("long")
        .alias("total_chars"),
        F.sum(F.col("clen") * (F.col("n_occurrences") - 1))
        .cast("long")
        .alias("dedup_savings_chars"),
    )


@register(
    "packing_length_sweep",
    """
    WITH t AS (
        SELECT doc_id, lang,
               CAST(ceil(length(text) / 4.0) AS BIGINT) AS tokens
        FROM documents
    ), o AS (
        SELECT lang, tokens,
               CAST(SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id)
                    - tokens AS BIGINT) AS off
        FROM t
    ), lens AS (
        SELECT CAST(unnest(list_value(512, 1024, 2048, 4096)) AS BIGINT)
                   AS max_len
    ), per AS (
        SELECT max_len, lang,
               COUNT(*) AS n_docs,
               CAST(SUM(tokens) AS BIGINT) AS total_tokens,
               CAST(MAX(off + tokens) AS BIGINT) AS stream_len,
               -- GREATEST guard mirrors packing.py: a zero-token doc
               -- exactly on a boundary must not count as -1 fragments
               CAST(SUM(CASE WHEN GREATEST((off + tokens - 1) // max_len,
                                           off // max_len)
                                  > off // max_len
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_boundary_docs,
               CAST(SUM(GREATEST((off + tokens - 1) // max_len,
                                 off // max_len) - off // max_len)
                    AS BIGINT) AS n_extra_fragments
        FROM o CROSS JOIN lens
        GROUP BY max_len, lang
    ), per2 AS (
        SELECT max_len, n_docs, total_tokens, n_boundary_docs,
               n_extra_fragments,
               (stream_len + max_len - 1) // max_len AS n_seqs,
               ((stream_len + max_len - 1) // max_len) * max_len
                   - stream_len AS pad
        FROM per
    )
    SELECT max_len,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(total_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_seqs) AS BIGINT) AS n_seqs,
           CAST(SUM(pad) AS BIGINT) AS pad_tokens,
           CAST(SUM(pad) AS DOUBLE)
               / CAST(SUM(n_seqs) * max_len AS DOUBLE) AS pad_frac,
           CAST(SUM(n_boundary_docs) AS BIGINT) AS n_boundary_docs,
           CAST(SUM(n_extra_fragments) AS BIGINT) AS n_extra_fragments
    FROM per2 GROUP BY max_len
    """,
    ops=["pack-contiguous", "pack-length-sweep", "W1", "A3"],
)
def packing_length_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The max_len planning sweep over the contiguous packer
    (operators/packing.py:packing_length_sweep): per candidate budget
    {512,1024,2048,4096}, sequences produced, tail-padding tokens and
    fraction, and how many documents a boundary would split (plus the
    extra fragments splitting creates). Pad shrinks and fragmentation
    grows as the budget falls — the sweep exposes the knee. One scan,
    exact integers, candidate lengths exploded AFTER the window pass."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.ceil(F.length("text") / F.lit(4.0)).cast("long").alias("tokens"),
    )
    return packing.packing_length_sweep(
        toks,
        lengths=[512, 1024, 2048, 4096],
        tokens_col="tokens",
        shard_col="lang",
    )


def _url_canon_sql(expr: str) -> str:
    """DuckDB twin of web.canonical_url, generated from the SAME
    rewrite table so the two engines cannot drift."""
    out = f"lower({expr})"
    for pat, rep in web.CANONICAL_REWRITES:
        out = f"regexp_replace({out}, '{pat}', '{rep}', 'g')"
    return out


# Synthetic dirty-URL derivation + canonicalization, shared by the URL
# family below. Mirrors web.with_synthetic_urls(n_groups=97, n_hosts=10)
# column for column.
_URL_CTE = f"""hu AS (
        SELECT doc_id,
               'site' || CAST((doc_id % 97) % 10 AS VARCHAR)
                      || '.example.org' AS h
        FROM documents
    ), u AS (
        SELECT doc_id,
               (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END)
               || '://'
               || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
               || (CASE WHEN doc_id % 5 = 0 THEN upper(h) ELSE h END)
               || '/docs/' || CAST(doc_id % 97 AS VARCHAR)
               || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
               || (CASE WHEN doc_id % 6 = 0
                        THEN '?utm_source=rss&utm_medium=feed' ELSE '' END)
               || (CASE WHEN doc_id % 8 = 0 THEN '#section-1' ELSE '' END)
                   AS raw_url
        FROM hu
    ), c AS (
        SELECT doc_id, raw_url,
               {_url_canon_sql('raw_url')} AS canonical_url
        FROM u
    )"""


@register(
    "corpus_build_v3_e2e",
    f"""
    WITH {_URL_CTE}, surv AS (
        SELECT MIN(doc_id) AS doc_id FROM c GROUP BY canonical_url
    ), t AS (
        SELECT d.doc_id, d.lang,
               CAST(ceil(length(d.text) / 4.0) AS BIGINT) AS tokens
        FROM documents d JOIN surv USING (doc_id)
    ), o AS (
        SELECT doc_id, lang, tokens,
               CAST(SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id)
                    - tokens AS BIGINT) AS off
        FROM t
    ), per AS (
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(tokens) AS BIGINT) AS total_tokens,
               CAST(MAX(off + tokens) AS BIGINT) AS stream_len
        FROM o GROUP BY lang
    )
    SELECT lang, n_docs, total_tokens,
           CAST((stream_len + 1023) // 1024 AS BIGINT) AS n_seqs,
           CAST(((stream_len + 1023) // 1024) * 1024 - stream_len
                AS BIGINT) AS pad_tokens
    FROM per
    """,
    ops=["corpus-build-e2e", "url-canonicalize", "dedup-exact",
         "pack-contiguous"],
)
def corpus_build_v3_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus build v3, composing the round-8 web-hygiene stage with
    the packer in ONE lazy plan: canonicalize crawl URLs → keep the
    min-id survivor per canonical page (exact re-crawl dedup) →
    tokenize → contiguous 1024-budget packing per language shard →
    per-shard doc/token/sequence/pad budget. Like v1/v2, no
    intermediate materialization: the whole chain is a single Catalyst
    plan (scan → string expressions → two shuffles: canonical-URL
    group + lang window)."""
    d = _t(spark, sf_dir, "documents")
    urls = web.canonicalize_urls(web.with_synthetic_urls(d))
    surv = web.url_dedup_stats(urls).select(
        F.col("survivor_doc_id").alias("doc_id")
    )
    toks = d.join(surv, "doc_id").select(
        "doc_id",
        "lang",
        F.ceil(F.length("text") / F.lit(4.0)).cast("long").alias("tokens"),
    )
    packed = packing.pack_contiguous(
        toks, budget=1024, tokens_col="tokens", shard_col="lang"
    )
    per = packed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tokens").cast("long").alias("total_tokens"),
        F.max(F.col("seq_offset") + F.col("tokens"))
        .cast("long")
        .alias("stream_len"),
    )
    return per.select(
        "lang",
        "n_docs",
        "total_tokens",
        F.expr("(stream_len + 1023) div 1024").alias("n_seqs"),
        (
            F.expr("(stream_len + 1023) div 1024") * 1024
            - F.col("stream_len")
        ).alias("pad_tokens"),
    )


@register(
    "wav_header_report",
    """
    WITH src AS (
        SELECT doc_id,
               CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                    WHEN 2 THEN 22050 WHEN 3 THEN 44100
                    ELSE 48000 END AS rate,
               doc_id % 2 + 1 AS ch,
               (doc_id % 2 + 1) * 8 AS bits,
               doc_id % 1000 + 1 AS ns
        FROM documents
    )
    SELECT doc_id AS media_id,
           CAST(44 AS BIGINT) AS n_bytes,
           TRUE AS wav_sig_ok,
           CAST(ch AS BIGINT) AS n_channels,
           CAST(rate AS BIGINT) AS sample_rate_hz,
           CAST(bits AS BIGINT) AS bits_per_sample,
           CAST(rate * ch * (bits // 8) AS BIGINT) AS byte_rate,
           CAST(ch * (bits // 8) AS BIGINT) AS block_align,
           CAST(ns * ch * (bits // 8) AS BIGINT) AS data_bytes,
           CAST(ns AS BIGINT) AS n_frames
    FROM src
    """,
    ops=["multimodal-binary", "binary-codec"],
)
def wav_header_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PNG codec's LITTLE-endian twin, same zero-Python contract:
    canonical 44-byte PCM WAV headers are SYNTHESIZED in-plan
    (multimodal.synthesize_wav — little-endian hex assembly + unhex)
    and PARSED back with byte-swapped hex reads
    (multimodal.wav_header_meta). The oracle restates every field from
    the same derivation, so a hash match proves the LE encode→parse
    round-trip is the identity — including the derived byte-rate/
    block-align/data-size arithmetic the header carries redundantly.
    Whole-stage-codegen'd column expressions over the scan: the
    audio-format sweep shape for billions of clips at 100 TB."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    i = F.col("doc_id")
    src = d.select(
        i.alias("media_id"),
        F.when(i % 5 == 0, 8000)
        .when(i % 5 == 1, 16000)
        .when(i % 5 == 2, 22050)
        .when(i % 5 == 3, 44100)
        .otherwise(48000)
        .cast("long")
        .alias("sample_rate_hz"),
        (i % 2 + 1).alias("n_channels"),
        ((i % 2 + 1) * 8).alias("bits_per_sample"),
        (i % 1000 + 1).alias("n_samples"),
    )
    media = multimodal.synthesize_wav(src)
    parsed = multimodal.wav_header_meta(media)
    return parsed.withColumn(
        "n_frames", F.expr("data_bytes div block_align")
    )


@register(
    "streaming_rest_poll_e2e",
    """
    WITH pages AS (
        SELECT CAST(unnest(range(1, 13)) AS INTEGER) AS p
    ), urls AS (
        SELECT p, 'http://api.local/data/' || CAST(p AS VARCHAR)
                  || '?fmt=json' AS url
        FROM pages
    ), syn AS (
        SELECT u.p,
               CAST(u.p AS VARCHAR) || '-r' || CAST(i.i AS VARCHAR)
                   AS indicator,
               CAST((i.i * length(u.url)) % 97 AS DOUBLE) AS value
        FROM urls u CROSS JOIN (SELECT unnest(range(0, 10)) AS i) i
    )
    SELECT p AS page_id,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT indicator) AS n_indicators,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM syn GROUP BY p
    """,
    ops=["S1", "S2", "streaming-e2e", "python-datasource", "V6"],
)
def streaming_rest_poll_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's paginated REST ingest as a CONTINUOUS feed:
    Spark 4 Python streaming DataSource (sources/pyds.py
    RestPollStreamReader — offset = page cursor, micro-batch = 3 pages,
    replay via readBetweenOffsets) polls 12 synthetic pages to
    exhaustion into an append-mode memory sink, then aggregates per
    page. The oracle reconstructs every synthetic row from the URL
    formula alone, so the hash-match proves each page landed exactly
    once across micro-batch (and potential replay) boundaries —
    the streaming twin of S1/S2's batch union-fold
    (crime_immigration_etl.py:88-132 is the driver-side original)."""
    tune(spark)
    from ..sources.pyds import run_rest_poll_stream

    raw = run_rest_poll_stream(
        spark,
        "http://api.local/data/{page}?fmt=json",
        "indicator string, value double, page_id int",
        last_page=12,
        pages_per_batch=3,
        fetcher="synthetic:10",
        query_name="rest_poll_e2e",
    )
    return raw.groupBy("page_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("indicator").alias("n_indicators"),
        F.sum(F.col("value").cast(DEC6)).cast("double").alias("total_value"),
    )


@register(
    "url_canonical_dedup",
    f"""
    WITH {_URL_CTE}
    SELECT canonical_url,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT raw_url) AS n_raw_variants,
           MIN(doc_id) AS survivor_doc_id
    FROM c GROUP BY canonical_url
    """,
    ops=["url-canonicalize", "dedup-exact", "A1"],
)
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL hygiene, step 1 of every web-corpus pipeline: canonicalize
    crawl URLs (force https, strip www/fragments/utm params/trailing
    slashes — web.CANONICAL_REWRITES, the identical table generates the
    oracle) and collapse exact re-crawl groups with a deterministic
    min-id survivor. The dirty URLs are derived per-doc
    (web.with_synthetic_urls) since the corpus carries no URL column;
    six residue classes of doc_id produce the classic crawl-noise
    variants, so the canonicalizer's convergence is what's tested.
    Pure codegen'd string expressions + ONE shuffle on the (uniform,
    host-embedding) canonical key — the 100 TB shape."""
    d = _t(spark, sf_dir, "documents")
    urls = web.canonicalize_urls(web.with_synthetic_urls(d))
    return web.url_dedup_stats(urls)


@register(
    "domain_crawl_profile",
    f"""
    WITH {_URL_CTE}, per AS (
        SELECT regexp_extract(canonical_url, '^https://([^/]+)', 1)
                   AS host,
               COUNT(*) AS n_docs,
               COUNT(DISTINCT canonical_url) AS n_urls
        FROM c GROUP BY 1
    )
    SELECT host, n_docs, n_urls,
           CAST(n_docs AS DOUBLE) / CAST(n_urls AS DOUBLE) AS docs_per_url,
           CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER () AS DOUBLE)
               AS corpus_share
    FROM per
    """,
    ops=["url-canonicalize", "frequency-cap", "A3"],
)
def domain_crawl_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain crawl profile over canonical URLs: doc count,
    distinct pages, docs-per-URL (re-crawl rate) and corpus share —
    the inputs a head-domain cap policy (source_frequency_cap's URL
    twin) reads. The corpus total is a window over the domain-count-
    sized aggregate, never over raw rows (web.domain_profile)."""
    d = _t(spark, sf_dir, "documents")
    urls = web.canonicalize_urls(web.with_synthetic_urls(d))
    return web.domain_profile(urls)


# ---------------------------------------------------------------------
# Retrieval ranking metrics (MRR / MAP / nDCG / recall over an ANN arm)
# ---------------------------------------------------------------------

# Binary-gain DCG weights in micro-units, floor(1e6 / log2(rank+1)) for
# ranks 1..10. Computed HERE (host Python, module import) and inlined
# as literals into BOTH engines, so neither engine's log2 is on the
# hash path — cross-engine identical by construction.
_DCG_W = [math.floor(1_000_000 / math.log2(i + 1)) for i in range(1, 11)]
_IDCG = sum(_DCG_W)  # ideal DCG@10 under binary gains (all 10 relevant)
_DCG_W_SQL = "[" + ", ".join(str(w) for w in _DCG_W) + "]"


@register(
    "retrieval_ranking_metrics",
    f"""
    WITH vd AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), data AS (
        SELECT vec_id, v,
               list_sum(list_transform(v, x -> x * x)) AS n2
        FROM vd
    ), qrel AS (
        SELECT vec_id AS qid, v AS qv, n2 AS qn2
        FROM data WHERE vec_id < 4 AND n2 > 0
    ), tsc AS (
        SELECT q.qid, d.vec_id,
               list_sum(list_transform(list_zip(d.v, q.qv),
                        s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
                 / (sqrt(d.n2) * sqrt(q.qn2)) AS cos
        FROM data d, qrel q
        WHERE d.n2 > 0 AND d.vec_id <> q.qid
    ), truth AS (
        SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY cos DESC, vec_id) AS r
            FROM tsc) WHERE r <= 10
    ), staged AS (
        SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale
        FROM vd
    ), quant AS (
        SELECT vec_id,
               CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
                    ELSE list_transform(v, x -> CAST(floor(x / scale * 127)
                                                    AS INTEGER))
               END AS codes
        FROM staged
    ), qd AS (
        SELECT vec_id, codes, list_dot_product(codes, codes) AS na2
        FROM quant
    ), iq AS (
        SELECT vec_id AS qid, codes AS qc, na2 AS nb2
        FROM qd WHERE vec_id < 4 AND na2 > 0
    ), asc8 AS (
        SELECT q.qid, d.vec_id,
               list_dot_product(d.codes, q.qc)
                 / (sqrt(d.na2) * sqrt(q.nb2)) AS cos8
        FROM qd d, iq q
        WHERE d.na2 > 0 AND d.vec_id <> q.qid
    ), approx AS (
        SELECT qid, vec_id, r AS arank FROM (
            SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY cos8 DESC, vec_id) AS r
            FROM asc8) WHERE r <= 10
    ), flagged AS (
        SELECT a.qid, a.arank,
               CASE WHEN t.vec_id IS NULL THEN 0 ELSE 1 END AS is_rel
        FROM approx a
        LEFT JOIN truth t ON a.qid = t.qid AND a.vec_id = t.vec_id
    ), cum AS (
        SELECT qid, arank, is_rel,
               SUM(is_rel) OVER (PARTITION BY qid ORDER BY arank
                                 ROWS UNBOUNDED PRECEDING) AS hits_upto
        FROM flagged
    ), per AS (
        SELECT qid,
               CAST(SUM(is_rel) AS BIGINT) AS n_hits,
               CAST(COALESCE(MIN(CASE WHEN is_rel = 1 THEN arank END), 0)
                    AS BIGINT) AS rank_first,
               CAST(SUM(CASE WHEN is_rel = 1
                             THEN (1000000 * hits_upto) // arank
                             ELSE 0 END) // 10 AS BIGINT) AS ap_micro,
               CAST(SUM(CASE WHEN is_rel = 1
                             THEN {_DCG_W_SQL}[arank] ELSE 0 END)
                    AS BIGINT) AS dcg_raw
        FROM cum GROUP BY qid
    )
    SELECT CAST(qid AS BIGINT) AS qid, n_hits, rank_first,
           n_hits * 100000 AS recall_micro,
           CAST(CASE WHEN rank_first > 0 THEN 1000000 // rank_first
                     ELSE 0 END AS BIGINT) AS mrr_micro,
           ap_micro,
           CAST((dcg_raw * 1000000) // {_IDCG} AS BIGINT) AS ndcg_micro
    FROM per ORDER BY qid
    """,
    ops=["retrieval-metrics", "ann-int8", "ranking-eval"],
)
def retrieval_ranking_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full retrieval-eval harness UNDER the oracle gate: exact-cosine
    truth top-10 vs the int8-quantized approximate top-10 for four
    query vectors, scored with recall@10, MRR, MAP@10, and binary-gain
    nDCG@10 — every metric a scaled BIGINT (micro-units, integer
    ``div``), so the quality numbers themselves are hash-checked.
    DCG's irrational log2 discounts are a 10-entry host-computed
    literal table in both engines (nothing transcendental on the hash
    path); ranks carry the (score desc, vec_id) tiebreak.

    Scale shape: both arms are data×(4-row broadcast query relation)
    scored map-side; per-query top-10 goes through the window-rank
    filter Spark 4 rewrites into WindowGroupLimit (partial per-
    partition top-k before the qid shuffle), so no single-reducer
    bottleneck at 100 TB. Self-matches excluded; zero-norm vectors
    dropped from both arms."""
    # fanout: single-file scan otherwise runs BOTH arms' 64-dim
    # cosine/dot folds (the dominant per-row cost) on one core (r15,
    # guide §2.5 input skew — the hash_bootstrap class)
    e = _t(spark, sf_dir, "embeddings", fanout=True)

    vd = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    data = vd.withColumn("n2", similarity._dot(F.col("v"), F.col("v"))).filter(
        F.col("n2") > 0
    )
    qrel = data.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("n2").alias("qn2"),
    )
    truth = (
        data.crossJoin(F.broadcast(qrel))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            (
                similarity._dot(F.col("v"), F.col("qv"))
                / (F.sqrt("n2") * F.sqrt("qn2"))
            ).alias("cos"),
        )
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    F.col("cos").desc(), "vec_id"
                )
            ),
        )
        .filter(F.col("r") <= 10)
        .select("qid", "vec_id")
    )
    quant = similarity.quantize_embeddings(e).select("vec_id", "codes")
    qd = quant.withColumn(
        "na2", similarity._idot(F.col("codes"), F.col("codes")).cast("double")
    ).filter(F.col("na2") > 0)
    iq = qd.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"),
        F.col("codes").alias("qc"),
        F.col("na2").alias("nb2"),
    )
    approx = (
        qd.crossJoin(F.broadcast(iq))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            (
                similarity._idot(F.col("codes"), F.col("qc")).cast("double")
                / (F.sqrt("na2") * F.sqrt("nb2"))
            ).alias("cos8"),
        )
        .withColumn(
            "arank",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    F.col("cos8").desc(), "vec_id"
                )
            ),
        )
        .filter(F.col("arank") <= 10)
        .select("qid", "vec_id", "arank")
    )
    flagged = approx.join(
        truth.withColumn("is_rel", F.lit(1)), ["qid", "vec_id"], "left"
    ).select("qid", "arank", F.coalesce("is_rel", F.lit(0)).alias("is_rel"))
    cum = flagged.withColumn(
        "hits_upto",
        F.sum("is_rel").over(
            Window.partitionBy("qid")
            .orderBy("arank")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    w_arr = F.array(*[F.lit(w) for w in _DCG_W])
    per = cum.groupBy("qid").agg(
        F.sum("is_rel").cast("long").alias("n_hits"),
        F.coalesce(
            F.min(F.when(F.col("is_rel") == 1, F.col("arank"))), F.lit(0)
        )
        .cast("long")
        .alias("rank_first"),
        F.expr(
            "CAST(SUM(CASE WHEN is_rel = 1"
            "         THEN (1000000 * hits_upto) div arank"
            "         ELSE 0 END) div 10 AS BIGINT)"
        ).alias("ap_micro"),
        F.sum(
            F.when(
                F.col("is_rel") == 1,
                F.element_at(w_arr, F.col("arank").cast("int")),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("dcg_raw"),
    )
    return per.select(
        F.col("qid").cast("long").alias("qid"),
        "n_hits",
        "rank_first",
        (F.col("n_hits") * 100000).cast("long").alias("recall_micro"),
        F.expr(
            "CAST(CASE WHEN rank_first > 0 THEN 1000000 div rank_first"
            "          ELSE 0 END AS BIGINT)"
        ).alias("mrr_micro"),
        "ap_micro",
        F.expr(f"CAST((dcg_raw * 1000000) div {_IDCG} AS BIGINT)").alias(
            "ndcg_micro"
        ),
    ).orderBy("qid")


# ---------------------------------------------------------------------
# Differential-privacy aggregates (seeded quantized-Laplace mechanism)
# ---------------------------------------------------------------------

_DP_EPS = [("eps_0_5", 0.5), ("eps_2_0", 2.0)]
_DP_BUCKETS = 256
_DP_CAP_CENTS = 30_000_000  # per-order contribution bound ($300k)


def _dp_noise_rows() -> list[tuple[str, int, int, int]]:
    """Inverse-CDF table of Laplace(0, 1/eps) at 256 mid-bucket
    quantiles, host-computed once and inlined as literals into BOTH
    engines (like the DCG weights: nothing transcendental on the hash
    path). ``noise_count`` is the sensitivity-1 draw rounded to whole
    counts; ``noise_sum_cents`` the same draw scaled by the
    contribution cap (sensitivity of the clamped sum)."""
    rows = []
    for label, eps in _DP_EPS:
        b_scale = 1.0 / eps
        for b in range(_DP_BUCKETS):
            u = (b + 0.5) / _DP_BUCKETS
            q = -b_scale * math.copysign(1.0, u - 0.5) * math.log1p(
                -2.0 * abs(u - 0.5)
            )
            rows.append((label, b, round(q), round(q * _DP_CAP_CENTS)))
    return rows


_DP_NOISE_SQL = ", ".join(
    f"('{label}', {b}, {nc}, {ns})" for label, b, nc, ns in _dp_noise_rows()
)


@register(
    "dp_nation_order_stats",
    f"""
    WITH noise(eps_label, bucket, noise_count, noise_sum_cents) AS (
        VALUES {_DP_NOISE_SQL}
    ), eps AS (
        SELECT DISTINCT eps_label FROM noise
    ), base AS (
        SELECT n.n_name AS nation_name,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(LEAST(CAST(CAST(o.o_totalprice AS DECIMAL(18,2))
                                   * 100 AS BIGINT),
                              {_DP_CAP_CENTS})) AS BIGINT) AS revenue_cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    ), keyed AS (
        SELECT b.*, e.eps_label,
               CAST(('0x' || substr(md5('dpcount:' || e.eps_label || ':'
                                        || b.nation_name), 1, 8))
                    AS BIGINT) % {_DP_BUCKETS} AS bucket_c,
               CAST(('0x' || substr(md5('dpsum:' || e.eps_label || ':'
                                        || b.nation_name), 1, 8))
                    AS BIGINT) % {_DP_BUCKETS} AS bucket_s
        FROM base b, eps e
    )
    SELECT k.nation_name, k.eps_label, k.n_orders,
           k.n_orders + nc.noise_count AS dp_n_orders,
           k.revenue_cents,
           k.revenue_cents + ns.noise_sum_cents AS dp_revenue_cents
    FROM keyed k
    JOIN noise nc ON nc.eps_label = k.eps_label AND nc.bucket = k.bucket_c
    JOIN noise ns ON ns.eps_label = k.eps_label AND ns.bucket = k.bucket_s
    ORDER BY k.nation_name, k.eps_label
    """,
    ops=["dp-aggregate", "contribution-bounding", "A3"],
)
def dp_nation_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private release shape for per-nation order count
    and revenue, swept over two epsilons. The mechanism is the full
    production pattern — per-record contribution bounding (order value
    clamped to a cap BEFORE summing, the step that bounds sum
    sensitivity), then additive Laplace noise at scale
    sensitivity/epsilon — with the draw made SEEDED and hash-checkable:
    a 256-bucket inverse-CDF quantile table of Laplace(0, 1/eps)
    (host-computed literals in both engines) indexed by an md5-derived
    bucket per (stat, eps, key). Documented honestly: quantized
    seeded noise is a *pedagogical/reproducible* variant — a real
    release would draw fresh continuous noise per publication and
    account the privacy budget across releases.

    Scale shape: one shuffle for the orders→customer key join, one
    25-key aggregate, then broadcast joins against the 512-row noise
    dim and 2-row epsilon dim. Noise columns are precomputed integers
    (count units / cap-scaled cents), so the runtime path is pure
    BIGINT adds — no float, no runtime division."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    noise = spark.createDataFrame(
        _dp_noise_rows(),
        "eps_label string, bucket long, noise_count long, "
        "noise_sum_cents long",
    )
    eps = spark.createDataFrame(
        [(label,) for label, _ in _DP_EPS], "eps_label string"
    )
    base = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .withColumn(
            "cents",
            F.least(
                (_dec2("o_totalprice") * 100).cast("long"),
                F.lit(_DP_CAP_CENTS).cast("long"),
            ),
        )
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
    )

    def bucket(tag: str) -> F.Column:
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.lit(tag),
                            F.col("eps_label"),
                            F.col("nation_name"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _DP_BUCKETS
        )

    keyed = (
        base.crossJoin(F.broadcast(eps))
        .withColumn("bucket_c", bucket("dpcount"))
        .withColumn("bucket_s", bucket("dpsum"))
    )
    nc = F.broadcast(
        noise.select(
            F.col("eps_label").alias("nc_eps"),
            F.col("bucket").alias("nc_bucket"),
            "noise_count",
        )
    )
    ns = F.broadcast(
        noise.select(
            F.col("eps_label").alias("ns_eps"),
            F.col("bucket").alias("ns_bucket"),
            "noise_sum_cents",
        )
    )
    return (
        keyed.join(
            nc,
            (F.col("eps_label") == F.col("nc_eps"))
            & (F.col("bucket_c") == F.col("nc_bucket")),
        )
        .join(
            ns,
            (F.col("eps_label") == F.col("ns_eps"))
            & (F.col("bucket_s") == F.col("ns_bucket")),
        )
        .select(
            "nation_name",
            "eps_label",
            "n_orders",
            (F.col("n_orders") + F.col("noise_count"))
            .cast("long")
            .alias("dp_n_orders"),
            "revenue_cents",
            (F.col("revenue_cents") + F.col("noise_sum_cents"))
            .cast("long")
            .alias("dp_revenue_cents"),
        )
        .orderBy("nation_name", "eps_label")
    )


@register(
    "readability_report",
    """
    WITH per_doc AS (
        SELECT lang,
               GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
                   AS n_sentences,
               GREATEST(len(regexp_extract_all(lower(text),
                                               '[a-z]+')), 1) AS n_words,
               GREATEST(len(regexp_extract_all(lower(text),
                                               '[aeiouy]+')), 1)
                   AS n_syllables
        FROM documents
    ), scored AS (
        SELECT lang, n_sentences, n_words, n_syllables,
               206835 - (1015 * n_words) // n_sentences
                      - (84600 * n_syllables) // n_words AS flesch_milli,
               (390 * n_words) // n_sentences
                   + (11800 * n_syllables) // n_words - 15590
                   AS fk_grade_milli
        FROM per_doc
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(SUM(n_syllables) AS BIGINT) AS total_syllables,
           CAST(SUM(flesch_milli) // COUNT(*) AS BIGINT)
               AS mean_flesch_milli,
           CAST(SUM(fk_grade_milli) // COUNT(*) AS BIGINT)
               AS mean_fk_grade_milli
    FROM scored GROUP BY lang ORDER BY lang
    """,
    ops=["text-quality", "readability", "A3"],
)
def readability_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability scoring for the curation stack: Flesch reading ease
    and Flesch-Kincaid grade per document (syllables ≈ non-overlapping
    vowel groups, words ≈ letter runs, sentences ≈ terminal-punct
    runs — the standard regex heuristics), rolled up per language. All
    fixed-point: the 206.835/1.015/84.6/0.39/11.8/15.59 constants are
    milli-scaled integers and every ratio is an integer floor-division,
    so the scores are hash-exact cross-engine. Map-side regexp_count
    over the scan + one small group-by — no tokenizer, no UDF, linear
    at 100 TB."""
    d = _t(spark, sf_dir, "documents")
    lo = F.lower(F.col("text"))
    per_doc = d.select(
        "lang",
        F.greatest(
            F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1)
        ).alias("n_sentences"),
        F.greatest(
            F.regexp_count(lo, F.lit(r"[a-z]+")), F.lit(1)
        ).alias("n_words"),
        F.greatest(
            F.regexp_count(lo, F.lit(r"[aeiouy]+")), F.lit(1)
        ).alias("n_syllables"),
    )
    scored = per_doc.select(
        "lang",
        "n_sentences",
        "n_words",
        "n_syllables",
        F.expr(
            "206835 - (1015 * n_words) div n_sentences"
            " - (84600 * n_syllables) div n_words"
        ).alias("flesch_milli"),
        F.expr(
            "(390 * n_words) div n_sentences"
            " + (11800 * n_syllables) div n_words - 15590"
        ).alias("fk_grade_milli"),
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("total_words"),
            F.sum("n_syllables").cast("long").alias("total_syllables"),
            # plain `div`: DuckDB's integer `//` TRUNCATES toward zero
            # exactly like Spark's `div` (measured: -7 // 2 = -3), so
            # truncating division is the cross-engine-exact form even
            # when dense text drives a language's Flesch sum negative
            # (an earlier pmod-floor form here would mismatch by 1 on
            # any negative non-divisible sum — caught by the same
            # semantics probe that fixed theil_sen_region_trend)
            F.expr(
                "CAST(SUM(flesch_milli) div COUNT(*) AS BIGINT)"
            ).alias("mean_flesch_milli"),
            F.expr(
                "CAST(SUM(fk_grade_milli) div COUNT(*) AS BIGINT)"
            ).alias("mean_fk_grade_milli"),
        )
        .orderBy("lang")
    )


@register(
    "mp4_mvhd_report",
    """
    SELECT doc_id AS media_id,
           CAST(60 + doc_id % 41 AS BIGINT) AS n_bytes,
           TRUE AS mp4_sig_ok,
           CAST(25 + doc_id % 41 AS BIGINT) AS moov_pos,
           CAST(600 + doc_id % 1000 AS BIGINT) AS timescale,
           CAST((doc_id * 13) % 100000 + 600 AS BIGINT) AS duration,
           CAST((((doc_id * 13) % 100000 + 600) * 1000)
                // (600 + doc_id % 1000) AS BIGINT) AS duration_ms
    FROM documents
    """,
    ops=["multimodal-binary", "binary-codec", "box-walk"],
)
def mp4_mvhd_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourth real codec — VIDEO container, completing the
    image/audio/video triad: minimal ISO-BMFF streams (ftyp, a per-row
    variable-size free box, moov/mvhd with real big-endian timescale
    and duration) are synthesized in-plan and parsed back by WALKING
    the top-level box chain (u32 size + 4cc fold, abort on degenerate
    sizes — multimodal.mp4_mvhd_meta), then deriving the clip length
    in milliseconds by exact integer floor-division. The oracle
    restates bytes/offsets/fields from the closed form; moov_pos
    shifts with the free-box padding, so the hash only matches if the
    walk really skipped the variable-size box. The shape that reads a
    billion videos' durations without a demuxer library."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    i = F.col("doc_id")
    src = d.select(
        i.alias("media_id"),
        (F.lit(600) + i % 1000).alias("timescale"),
        ((i * 13) % 100000 + 600).alias("duration"),
        (i % 41).alias("pad_len"),
    )
    media = multimodal.synthesize_mp4(src)
    return multimodal.mp4_mvhd_meta(media)


@register(
    "ivf_incremental_assign",
    f"""
    WITH old AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0
    ), newb AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1
    ), {_codebook_cte(8, 64, "old")}, scored_old AS (
        SELECT e.vec_id, cb.c,
               CAST(FLOOR(list_sum(list_transform(
                        list_zip(e.embedding, cb.centroid),
                        p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                             * (CAST(p[1] AS DOUBLE)
                                - CAST(p[2] AS DOUBLE))))
                    * 1000000000) AS BIGINT) AS d
        FROM old e CROSS JOIN cb
    ), scored_new AS (
        SELECT e.vec_id, cb.c,
               CAST(FLOOR(list_sum(list_transform(
                        list_zip(e.embedding, cb.centroid),
                        p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                             * (CAST(p[1] AS DOUBLE)
                                - CAST(p[2] AS DOUBLE))))
                    * 1000000000) AS BIGINT) AS d
        FROM newb e CROSS JOIN cb
    ), assign_old AS (
        SELECT c, d FROM (
            SELECT c, d, row_number() OVER (PARTITION BY vec_id
                                            ORDER BY d, c) AS rn
            FROM scored_old) WHERE rn = 1
    ), assign_new AS (
        SELECT c, d FROM (
            SELECT c, d, row_number() OVER (PARTITION BY vec_id
                                            ORDER BY d, c) AS rn
            FROM scored_new) WHERE rn = 1
    ), ao AS (
        SELECT c, CAST(COUNT(*) AS BIGINT) AS n_old,
               CAST(SUM(d) AS BIGINT) AS dist_nano_old
        FROM assign_old GROUP BY c
    ), an AS (
        SELECT c, CAST(COUNT(*) AS BIGINT) AS n_new,
               CAST(SUM(d) AS BIGINT) AS dist_nano_new
        FROM assign_new GROUP BY c
    )
    SELECT cb.c,
           COALESCE(ao.n_old, 0) AS n_old,
           COALESCE(an.n_new, 0) AS n_new,
           COALESCE(ao.dist_nano_old, 0) AS dist_nano_old,
           COALESCE(an.dist_nano_new, 0) AS dist_nano_new
    FROM cb LEFT JOIN ao ON ao.c = cb.c LEFT JOIN an ON an.c = cb.c
    ORDER BY cb.c
    """,
    ops=["similarity-ivf", "index-maintenance"],
)
def ivf_incremental_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index MAINTENANCE under the oracle gate: a coarse codebook
    trained on the even-id half of the corpus stays frozen while the
    odd-id half arrives as a "new batch" and is assigned to the
    existing cells (similarity.assign_to_codebook — broadcast
    codebook, map-side nearest-cell, no retrain, no corpus shuffle).
    The report is the drift audit an index operator reads before
    deciding to retrain: per-cell old vs new occupancy and exact
    nano fixed-point assignment-distance totals (a cell whose new
    members sit much farther than its old ones has drifted). All
    BIGINT — the drift numbers themselves are hash-checked."""
    e = _t(spark, sf_dir, "embeddings")
    old = e.filter(F.col("vec_id") % 2 == 0)
    newb = e.filter(F.col("vec_id") % 2 == 1)
    cb = similarity.train_codebook(old, k=8)
    ao = (
        similarity.assign_to_codebook(old, cb)
        .groupBy("c")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_old"),
            F.sum("dist_nano").cast("long").alias("dist_nano_old"),
        )
    )
    an = (
        similarity.assign_to_codebook(newb, cb)
        .groupBy("c")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_new"),
            F.sum("dist_nano").cast("long").alias("dist_nano_new"),
        )
    )
    return (
        cb.select("c")
        .join(ao, "c", "left")
        .join(an, "c", "left")
        .select(
            "c",
            F.coalesce("n_old", F.lit(0)).cast("long").alias("n_old"),
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
            F.coalesce("dist_nano_old", F.lit(0))
            .cast("long")
            .alias("dist_nano_old"),
            F.coalesce("dist_nano_new", F.lit(0))
            .cast("long")
            .alias("dist_nano_new"),
        )
        .orderBy("c")
    )


@register(
    "jpeg_sof_report",
    """
    SELECT doc_id AS media_id,
           CAST(52 + doc_id % 23 + 1 AS BIGINT) AS n_bytes,
           TRUE AS jpeg_sig_ok,
           CAST(32 + doc_id % 23 + 1 AS BIGINT) AS sof_pos,
           CAST(16 + doc_id % 1000 AS BIGINT) AS height_px,
           CAST(16 + (doc_id * 7) % 2000 AS BIGINT) AS width_px
    FROM documents
    """,
    ops=["multimodal-binary", "binary-codec", "marker-walk"],
)
def jpeg_sof_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third real codec, and the first with VARIABLE-length
    structure: minimal JFIF streams (SOI, APP0, a per-row
    variable-length COM segment, DQT stub, SOF0 with real big-endian
    dims, EOI) are synthesized in-plan and parsed back by WALKING the
    marker chain — a bounded (pos, h, w)-struct fold that reads each
    FFxx marker's u16 length and skips it until SOF0
    (multimodal.jpeg_sof_dims). The oracle restates byte total, SOF
    offset, and dims from the closed form, so the hash match proves
    the walk crossed every variable-length segment correctly for every
    row (sof_pos shifts with the COM length — a fixed-offset parser
    cannot fake it). Pure column expressions; the shape that sniffs a
    billion images' dimensions without leaving the JVM."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    i = F.col("doc_id")
    src = d.select(
        i.alias("media_id"),
        (F.lit(16) + (i * 7) % 2000).alias("width_px"),
        (F.lit(16) + i % 1000).alias("height_px"),
        (i % 23 + 1).alias("comment_len"),
    )
    media = multimodal.synthesize_jpeg(src)
    return multimodal.jpeg_sof_dims(media)


@register(
    "streaming_sessionize_e2e",
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
    ops=["streaming-e2e", "sessionization", "session-window"],
)
def streaming_sessionize_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming SESSIONIZATION under the oracle gate: events
    staged as 3 files stream through ``session_window`` (30-min gap,
    append mode, exactly-once parquet sink), with two trailing
    sentinel files whose far-future event-times push the watermark
    past every real session end so the final micro-batches flush the
    session state. The oracle is the BATCH lag-gap sessionization SQL
    (same as `sessionize_events`): a hash match proves the streaming
    session merge — including sessions bridged across micro-batches by
    out-of-order file replay — reproduces the batch semantics exactly
    (the exact-gap boundary is pinned to merge on both sides). Final
    read re-aggregates emitted sessions per user and drops the
    sentinel."""
    import datetime as dt

    from ..streaming.events import run_stream_sessionized_to_parquet

    e = _t(spark, sf_dir, "events")
    work = scratch_dir("stream_sess", sf_dir, clean=True)
    src = f"{work}/src"
    e.repartition(3).write.mode("overwrite").parquet(src)
    bounds = e.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).first()
    span_days = (bounds["hi"] - bounds["lo"]).days + 2
    wm = f"{span_days} days"
    # sentinels: beyond max_ts + gap + watermark (+1 day slack) so the
    # watermark they advance finalizes every real session
    s1 = bounds["hi"] + dt.timedelta(days=span_days + 1, minutes=31)
    s2 = s1 + dt.timedelta(hours=1)
    for i, ts in enumerate((s1, s2)):
        spark.createDataFrame(
            [(-(i + 1), ts, -1, "sentinel", 0.0, "{}")],
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        ).coalesce(1).write.mode("append").parquet(src)
    run_stream_sessionized_to_parquet(
        spark, src, f"{work}/out", f"{work}/ckpt",
        gap="30 minutes", watermark=wm,
    )
    return (
        spark.read.parquet(f"{work}/out")
        .filter(F.col("user_id") >= 0)
        .groupBy("user_id")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
        )
    )


@register(
    "wav_pcm_stats",
    """
    WITH src AS (
        SELECT doc_id,
               CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                    WHEN 2 THEN 22050 WHEN 3 THEN 44100
                    ELSE 48000 END AS rate,
               doc_id % 193 + 8 AS ns,
               500 + (doc_id % 997) * 29 AS amp,
               1 + doc_id % 37 AS step,
               doc_id % 101 AS phase
        FROM documents
    ), decoded AS (
        SELECT doc_id, rate, ns,
               list_transform(range(0, ns),
                              i -> (i * step + phase) % (2 * amp) - amp)
                   AS samples
        FROM src
    )
    SELECT doc_id AS media_id,
           CAST(rate AS BIGINT) AS sample_rate_hz,
           CAST(ns AS BIGINT) AS n_samples,
           CAST(list_max(list_transform(samples, x -> abs(x)))
                AS BIGINT) AS peak_abs,
           CAST(list_sum(list_transform(samples, x -> x * x))
                AS BIGINT) AS sum_sq,
           CAST(list_sum(list_transform(range(1, ns),
                    j -> CASE WHEN samples[j] * samples[j + 1] < 0
                              THEN 1 ELSE 0 END)) AS BIGINT)
               AS zero_crossings,
           CAST(FLOOR(sqrt(CAST(list_sum(list_transform(samples,
                                             x -> x * x)) AS DOUBLE)
                           / ns) * 1000) AS BIGINT) AS rms_milli
    FROM decoded
    """,
    ops=["multimodal-binary", "binary-codec", "audio-dsp"],
)
def wav_pcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real audio DSP on real bytes: full mono 16-bit PCM WAVs are
    SYNTHESIZED in-plan (multimodal.synthesize_wav_pcm — header + a
    deterministic integer sawtooth encoded as signed LE int16), then
    the samples are DECODED BACK FROM THE PAYLOAD BYTES
    (multimodal.wav_pcm_stats — hex byte-swap + two's-complement
    reads) and reduced to peak amplitude, exact integer energy,
    zero-crossing count, and fixed-point RMS. The oracle restates the
    statistics from the sawtooth's closed form, so a hash match proves
    the byte encode→decode→DSP chain equals the pure arithmetic — the
    WAV twin of the PNG round-trip, extended from header fields to the
    sample data itself. In-row transform/aggregate only (no explode):
    per-clip cost is bounded by the clip, the 100 TB shape."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    i = F.col("doc_id")
    src = d.select(
        i.alias("media_id"),
        F.when(i % 5 == 0, 8000)
        .when(i % 5 == 1, 16000)
        .when(i % 5 == 2, 22050)
        .when(i % 5 == 3, 44100)
        .otherwise(48000)
        .cast("long")
        .alias("sample_rate_hz"),
        (i % 193 + 8).alias("n_samples"),
        (F.lit(500) + (i % 997) * 29).alias("amp"),
        (F.lit(1) + i % 37).alias("step"),
        (i % 101).alias("phase"),
    )
    media = multimodal.synthesize_wav_pcm(src)
    return multimodal.wav_pcm_stats(media)


@register(
    "gif_header_report",
    """
    SELECT doc_id AS media_id,
           CAST(13 AS BIGINT) AS n_bytes,
           TRUE AS gif_sig_ok,
           CAST(doc_id % 320 + 8 AS BIGINT) AS width_px,
           CAST(doc_id % 200 + 8 AS BIGINT) AS height_px,
           CAST(doc_id % 8 AS BIGINT) AS color_res,
           CAST(power(2, (doc_id // 8) % 8 + 1) AS BIGINT) AS gct_entries,
           CAST(doc_id % 256 AS BIGINT) AS bg_index
    FROM documents
    """,
    ops=["multimodal-binary", "binary-codec"],
)
def gif_header_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fifth real codec — GIF89a, the mixed-endian image header: ASCII
    signature, LITTLE-endian u16 logical-screen dims (the RIFF
    byte-swap path, vs PNG's big-endian), and a BIT-packed flags byte
    (GCT flag = bit 7, color resolution = bits 6-4, GCT size exponent
    = bits 2-0) that the parser decodes with exact mod/divide
    arithmetic — the one header shape PNG/WAV/MP4 don't exercise.
    Bytes are synthesized in-plan from doc_id (multimodal.
    synthesize_gif) and parsed back (multimodal.gif_screen_meta); the
    oracle restates the closed form, so a hash match proves the
    encode→parse round-trip INCLUDING the bit-field split (color_res
    and gct_exp are driven by different phases of doc_id, so a wrong
    shift would mismatch). Whole-stage-codegen'd column expressions
    over the scan — the 100 TB shape for format sweeps over billions
    of stored images."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    i = F.col("doc_id")
    src = d.select(
        i.alias("media_id"),
        (i % 320 + 8).alias("width_px"),
        (i % 200 + 8).alias("height_px"),
        (i % 8).alias("color_res"),
        F.expr("(doc_id div 8) % 8").alias("gct_exp"),
        (i % 256).alias("bg_index"),
    )
    media = multimodal.synthesize_gif(src)
    return multimodal.gif_screen_meta(media)


@register(
    "roc_auc_length_vs_dup",
    """
    WITH lab AS (
        SELECT n_chars AS score,
               CASE WHEN COUNT(*) OVER (PARTITION BY text) > 1
                    THEN 1 ELSE 0 END AS y
        FROM documents
    ), g AS (
        SELECT score, COUNT(*) AS n, SUM(y) AS pos FROM lab GROUP BY score
    ), cum AS (
        SELECT score, n, pos,
               COALESCE(SUM(n) OVER (ORDER BY score
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS cum_before
        FROM g
    ), acc AS (
        SELECT SUM(pos * (2 * cum_before + n + 1)) AS s2,
               SUM(pos) AS npos, SUM(n) AS ntot
        FROM cum
    )
    SELECT CAST(npos AS BIGINT) AS n_pos,
           CAST(ntot - npos AS BIGINT) AS n_neg,
           CAST(s2 - npos * (npos + 1) AS BIGINT) AS u_doubled,
           CAST(CASE WHEN npos > 0 AND ntot > npos
                THEN ((s2 - npos * (npos + 1)) * 1000000)
                     // (2 * npos * (ntot - npos)) END AS BIGINT)
               AS auc_micro,
           CAST(CASE WHEN npos > 0 AND ntot > npos
                THEN ((s2 - npos * (npos + 1)) * 1000000)
                     // (npos * (ntot - npos)) - 1000000 END AS BIGINT)
               AS gini_micro
    FROM acc
    """,
    ops=["ml-eval", "roc-auc", "stats-rank"],
)
def roc_auc_length_vs_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC via the Mann-Whitney identity: scoring documents
    by length as a (deliberately weak) exact-duplicate classifier,
    AUC = U / (n_pos * n_neg) where U comes from tie-corrected rank
    sums. Ranks use the repo's doubled-rank convention (average rank
    with ties = (2*min_rank + n - 1)/2, so DOUBLED ranks are integers)
    — every intermediate is an exact BIGINT and the AUC/Gini land as
    floor'd micro-units on the hash path. gini_micro is computed as
    floor(2e6*AUC) - 1e6 (NOT 2*auc_micro - 1e6 — the two floors can
    differ by 1; both engines mirror the former).

    Scale shape: labels are one count-window over the text partition
    (the exact-dedup shuffle), then everything collapses to the
    DISTINCT-SCORE aggregate — the cumulative window runs over at most
    |distinct n_chars| rows (bounded by document length range, not
    corpus size), the classic evaluate-on-aggregates trick. Micro
    scaling of U needs DECIMAL widening past ~1e12 rows — noted, not
    hit at any testdata SF."""
    d = _t(spark, sf_dir, "documents")
    lab = d.select(
        F.col("n_chars").alias("score"),
        (
            F.count(F.lit(1)).over(Window.partitionBy("text")) > 1
        ).cast("long").alias("y"),
    )
    g = lab.groupBy("score").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    cum = g.withColumn(
        "cum_before", F.coalesce(F.sum("n").over(w), F.lit(0))
    )
    acc = cum.agg(
        F.sum(
            F.col("pos") * (2 * F.col("cum_before") + F.col("n") + 1)
        ).alias("s2"),
        F.sum("pos").alias("npos"),
        F.sum("n").alias("ntot"),
    )
    return acc.select(
        F.col("npos").cast("long").alias("n_pos"),
        F.expr("CAST(ntot - npos AS BIGINT)").alias("n_neg"),
        F.expr("CAST(s2 - npos * (npos + 1) AS BIGINT)").alias(
            "u_doubled"
        ),
        F.expr(
            "CAST(CASE WHEN npos > 0 AND ntot > npos"
            " THEN ((s2 - npos * (npos + 1)) * 1000000)"
            " div (2 * npos * (ntot - npos)) END AS BIGINT)"
        ).alias("auc_micro"),
        F.expr(
            "CAST(CASE WHEN npos > 0 AND ntot > npos"
            " THEN ((s2 - npos * (npos + 1)) * 1000000)"
            " div (npos * (ntot - npos)) - 1000000 END AS BIGINT)"
        ).alias("gini_micro"),
    )


@register(
    "brier_calibration_report",
    """
    WITH lab AS (
        SELECT (1000 * CAST(n_chars AS BIGINT))
                   // (CAST(n_chars AS BIGINT) + 500) AS p_milli,
               CASE WHEN COUNT(*) OVER (PARTITION BY text) > 1
                    THEN 1 ELSE 0 END AS y
        FROM documents
    )
    SELECT CAST(p_milli // 100 AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(SUM(p_milli) AS BIGINT) AS sum_pred_milli,
           CAST((1000 * SUM(y)) // COUNT(*) AS BIGINT)
               AS event_rate_milli,
           CAST(SUM((p_milli - 1000 * y) * (p_milli - 1000 * y))
                // COUNT(*) AS BIGINT) AS brier_micro
    FROM lab GROUP BY bin ORDER BY bin
    """,
    ops=["ml-eval", "calibration", "A3"],
)
def brier_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration diagnostics for a probabilistic classifier, exact:
    the predicted duplicate-probability is a saturating integer squash
    of length (p = 1000*n/(n+500) milli-units — monotone, bounded
    below 1000, model-free), the label is exact-duplicate membership,
    and each decile bin reports count, positives, mean prediction
    mass, empirical event rate, and the per-bin Brier score — all
    integer floor arithmetic (milli² = micro units), hash-exact. The
    reliability-diagram table every trained quality/dedup classifier
    needs before its threshold is trusted.

    Scale shape: one count-window over the text partition for labels,
    then a single 10-bin hash aggregate — map-side partials, no
    windows over raw data, linear at 100 TB."""
    d = _t(spark, sf_dir, "documents")
    lab = d.select(
        F.expr(
            "(1000 * CAST(n_chars AS BIGINT))"
            " div (CAST(n_chars AS BIGINT) + 500)"
        ).alias("p_milli"),
        (
            F.count(F.lit(1)).over(Window.partitionBy("text")) > 1
        ).cast("long").alias("y"),
    )
    return (
        lab.groupBy(F.expr("p_milli div 100").alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("y").cast("long").alias("n_pos"),
            F.sum("p_milli").cast("long").alias("sum_pred_milli"),
            F.expr("CAST((1000 * SUM(y)) div COUNT(*) AS BIGINT)").alias(
                "event_rate_milli"
            ),
            F.expr(
                "CAST(SUM((p_milli - 1000 * y) * (p_milli - 1000 * y))"
                " div COUNT(*) AS BIGINT)"
            ).alias("brier_micro"),
        )
        .select(
            F.col("bin").cast("long").alias("bin"),
            "n_docs",
            "n_pos",
            "sum_pred_milli",
            "event_rate_milli",
            "brier_micro",
        )
        .orderBy("bin")
    )


@register(
    "forecast_backtest_mase",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
        FROM orders GROUP BY day
    ), bounds AS (
        SELECT MAX(day) AS md FROM daily
    ), methods AS (
        SELECT * FROM (VALUES ('naive1', 1), ('snaive7', 7))
            AS t(method, lag)
    ), test_err AS (
        SELECT m.method, COUNT(*) AS n_test,
               SUM(ABS(t.cents - f.cents)) AS sum_abs_err
        FROM daily t
        CROSS JOIN methods m
        JOIN daily f ON f.day = t.day - CAST(m.lag AS INTEGER)
        CROSS JOIN bounds b
        WHERE t.day > b.md - 28
        GROUP BY m.method
    ), scale AS (
        SELECT COUNT(*) AS n_train,
               SUM(ABS(a.cents - p.cents)) AS sum_scale
        FROM daily a
        JOIN daily p ON p.day = a.day - 1
        CROSS JOIN bounds b
        WHERE a.day <= b.md - 28
    )
    SELECT method,
           CAST(n_test AS BIGINT) AS n_test_days,
           CAST(sum_abs_err AS BIGINT) AS sum_abs_err_cents,
           CAST(n_train AS BIGINT) AS n_train_diffs,
           CAST(sum_scale AS BIGINT) AS scale_abs_diff_cents,
           CAST(CASE WHEN sum_scale > 0 AND n_test > 0
                THEN ((1000000 * sum_abs_err) // n_test) * n_train
                     // sum_scale END AS BIGINT) AS mase_micro
    FROM test_err CROSS JOIN scale
    ORDER BY method
    """,
    ops=["timeseries-backtest", "forecast-eval", "A3"],
)
def forecast_backtest_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast backtest with MASE (mean absolute
    scaled error) — the standard scale-free forecast-accuracy metric:
    naive (lag-1) and seasonal-naive (lag-7) forecasts are evaluated
    on the final 28 days of daily revenue, each error an exact cents
    difference (DECIMAL(18,2) sums, so the money path never touches
    doubles), scaled by the in-sample mean absolute one-day change.
    mase_micro is the mirrored two-step floor ((1e6*err)//n_test *
    n_train // scale — staged to stay inside int64; both engines
    compute the identical expression). Completes the forecast family
    (EWMA/Holt/STL/ACF produce forecasts; this grades them).

    Scale shape: daily is a one-shuffle date aggregate (bounded by
    calendar span); lag pairing is an EQUI-join on day+offset against
    a 2-row broadcast method dim (the ACF recipe — no window over the
    raw series, no range join); the train/test cut uses a 1-row
    broadcast max-day scalar. Nothing grows with order count past the
    first aggregate."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        (F.sum(_dec2("o_totalprice")) * 100).cast("long").alias("cents")
    )
    bounds = daily.agg(F.max("day").alias("md"))
    methods = spark.createDataFrame(
        [("naive1", 1), ("snaive7", 7)], "method string, lag int"
    )
    t = (
        daily.crossJoin(F.broadcast(methods))
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("day") > F.date_sub(F.col("md"), 28))
        .select(
            "method",
            F.expr("date_sub(day, lag)").alias("jday"),
            F.col("cents").alias("tc"),
        )
    )
    f = daily.select(F.col("day").alias("jday"), F.col("cents").alias("fc"))
    test_err = t.join(f, "jday").groupBy("method").agg(
        F.count(F.lit(1)).alias("n_test"),
        F.sum(F.abs(F.col("tc") - F.col("fc"))).alias("sum_abs_err"),
    )
    a = (
        daily.crossJoin(F.broadcast(bounds))
        .filter(F.col("day") <= F.date_sub(F.col("md"), 28))
        .select(
            F.expr("date_sub(day, 1)").alias("jday"),
            F.col("cents").alias("ac"),
        )
    )
    p = daily.select(F.col("day").alias("jday"), F.col("cents").alias("pc"))
    scale = a.join(p, "jday").agg(
        F.count(F.lit(1)).alias("n_train"),
        F.sum(F.abs(F.col("ac") - F.col("pc"))).alias("sum_scale"),
    )
    return (
        test_err.crossJoin(F.broadcast(scale))
        .select(
            "method",
            F.col("n_test").cast("long").alias("n_test_days"),
            F.col("sum_abs_err").cast("long").alias("sum_abs_err_cents"),
            F.col("n_train").cast("long").alias("n_train_diffs"),
            F.col("sum_scale").cast("long").alias("scale_abs_diff_cents"),
            F.expr(
                "CAST(CASE WHEN sum_scale > 0 AND n_test > 0"
                " THEN ((1000000 * sum_abs_err) div n_test) * n_train"
                " div sum_scale END AS BIGINT)"
            ).alias("mase_micro"),
        )
        .orderBy("method")
    )


@register(
    "l_diversity_report",
    """
    WITH grp AS (
        SELECT lang, CAST(n_chars AS BIGINT) // 100 AS size_bucket,
               COUNT(*) AS k, COUNT(DISTINCT source) AS l
        FROM documents GROUP BY lang, size_bucket
    )
    SELECT CAST(l AS BIGINT) AS l_distinct,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(k) AS BIGINT) AS n_docs,
           CAST(MIN(k) AS BIGINT) AS min_group_size
    FROM grp GROUP BY l ORDER BY l_distinct
    """,
    ops=["privacy-audit", "l-diversity", "A3"],
)
def l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit, the companion to k_anonymity_report: within
    each quasi-identifier equivalence class (lang × length-centile
    bucket), count distinct values of the sensitive attribute
    (source) — a class where every document shares one source leaks
    it even when k is large. The histogram over l (group count, doc
    mass, smallest class per l) is the release-readiness table: rows
    at l=1 are the re-identification exposure.

    Scale shape: two hash aggregates (QI group-by with a
    distinct-count, then the tiny l histogram) — partial aggregation
    both stages, no windows, no joins; linear at 100 TB."""
    d = _t(spark, sf_dir, "documents")
    grp = d.groupBy(
        "lang", F.expr("CAST(n_chars AS BIGINT) div 100").alias("size_bucket")
    ).agg(
        F.count(F.lit(1)).alias("k"),
        F.countDistinct("source").alias("l"),
    )
    return (
        grp.groupBy(F.col("l").cast("long").alias("l_distinct"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("k").cast("long").alias("n_docs"),
            F.min("k").cast("long").alias("min_group_size"),
        )
        .orderBy("l_distinct")
    )


@register(
    "source_lang_simpson",
    """
    WITH c AS (
        SELECT source, lang, COUNT(*) AS n
        FROM documents GROUP BY source, lang
    )
    SELECT source,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_langs,
           CAST(CASE WHEN SUM(n) > 1
                THEN ((SUM(n) * (SUM(n) - 1) - SUM(n * (n - 1)))
                      * 1000000) // (SUM(n) * (SUM(n) - 1))
                END AS BIGINT) AS simpson_micro
    FROM c GROUP BY source ORDER BY source
    """,
    ops=["corpus-diversity", "simpson-index", "A3"],
)
def source_lang_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language diversity as the unbiased Simpson index
    (probability two documents drawn without replacement differ in
    language: 1 - Σn_i(n_i-1)/(N(N-1))) — the mixing-health number a
    corpus curator reads before trusting a source's language balance,
    exact in micro-units (pure integer arithmetic on group counts; no
    logarithms, unlike the entropy family). Complements
    corpus_ngram_diversity (token-level) with a label-level index.

    Scale shape: one (source, lang) hash aggregate then a per-source
    fold over its language rows — both map-side-partial aggregates,
    no windows, no joins; linear at 100 TB."""
    d = _t(spark, sf_dir, "documents")
    c = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    return (
        c.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_langs"),
            F.expr(
                "CAST(CASE WHEN SUM(n) > 1"
                " THEN ((SUM(n) * (SUM(n) - 1) - SUM(n * (n - 1)))"
                " * 1000000) div (SUM(n) * (SUM(n) - 1))"
                " END AS BIGINT)"
            ).alias("simpson_micro"),
        )
        .orderBy("source")
    )


@register(
    "incremental_dedup_assign",
    f"""
    WITH {_SHINGLES_CTE}, sigs AS (
        SELECT doc_id,
               {_MH_MINS}
        FROM sh GROUP BY doc_id
    ), bands AS (
        {_MH_BANDS}
    ), cands AS (
        SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
        FROM bands n JOIN bands o
          ON n.band = o.band AND n.bucket = o.bucket
         AND n.doc_id % 2 = 1 AND o.doc_id % 2 = 0
    ), ncand AS (
        SELECT new_id, COUNT(*) AS n_candidates FROM cands GROUP BY new_id
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id
    ), verified AS (
        SELECT c.new_id, c.old_id, COUNT(*) AS n_common
        FROM cands c
        JOIN sh ta ON ta.doc_id = c.new_id
        JOIN sh tb ON tb.doc_id = c.old_id AND tb.shingle = ta.shingle
        GROUP BY c.new_id, c.old_id
    ), scored AS (
        SELECT v.new_id, v.old_id,
               (1000000 * v.n_common)
                   // (sa.set_size + sb.set_size - v.n_common) AS j_micro
        FROM verified v
        JOIN sizes sa ON sa.doc_id = v.new_id
        JOIN sizes sb ON sb.doc_id = v.old_id
    ), best AS (
        SELECT new_id, old_id, j_micro FROM (
            SELECT new_id, old_id, j_micro,
                   row_number() OVER (PARTITION BY new_id
                                      ORDER BY j_micro DESC, old_id) AS rn
            FROM scored) WHERE rn = 1
    )
    SELECT d.doc_id,
           CAST(COALESCE(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
           CAST(b.old_id AS BIGINT) AS best_match_id,
           CAST(b.j_micro AS BIGINT) AS best_j_micro,
           COALESCE(b.j_micro >= 500000, FALSE) AS is_dup
    FROM documents d
    LEFT JOIN ncand nc ON nc.new_id = d.doc_id
    LEFT JOIN best b ON b.new_id = d.doc_id
    WHERE d.doc_id % 2 = 1
    """,
    ops=["dedup-minhash-lsh", "incremental-ingest"],
)
def incremental_dedup_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup ingest — the text twin of
    ivf_incremental_assign: the even-id half of the corpus is the
    FROZEN LSH index (signatures + band buckets, the shape a store
    persists), the odd-id half arrives as a new batch, and every new
    document is assigned a verdict by probing the index only
    (dedup.lsh_probe_pairs: first-shared-band emission, never
    old-vs-old re-pairing), exact-Jaccard-verifying the candidates,
    and keeping the best match (j_micro desc, old_id tiebreak). Every
    new doc reports its candidate fan-out, best match, exact Jaccard
    in micro-units, and the ≥0.5 duplicate verdict — the continuous-
    crawl dedup loop where per-batch cost tracks the batch, not the
    corpus.

    Oracle twin restates the probe as the parity-filtered bucket join
    with DISTINCT; the Spark side's per-row first-match predicate is
    the same pair set by construction."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    sets = dedup.ngram_set(d, n=3)
    sigs = dedup.minhash_signatures(sets, num_hashes=16, item_col="shingle")
    old_sigs = sigs.filter(F.col("doc_id") % 2 == 0)
    new_sigs = sigs.filter(F.col("doc_id") % 2 == 1)
    cands = dedup.lsh_probe_pairs(old_sigs, new_sigs)
    ncand = cands.groupBy("new_id").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    sizes = sets.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    ta = sets.select(F.col("doc_id").alias("new_id"), "shingle")
    tb = sets.select(F.col("doc_id").alias("old_id"), "shingle")
    verified = (
        cands.join(ta, "new_id")
        .join(tb, ["old_id", "shingle"])
        .groupBy("new_id", "old_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("new_id"),
                      F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("old_id"),
                      F.col("set_size").alias("size_b"))
    scored = (
        verified.join(sa, "new_id")
        .join(sb, "old_id")
        .select(
            "new_id",
            "old_id",
            F.expr(
                "(1000000 * n_common) div (size_a + size_b - n_common)"
            ).alias("j_micro"),
        )
    )
    best = (
        scored.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("new_id").orderBy(
                    F.col("j_micro").desc(), "old_id"
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    new_docs = d.filter(F.col("doc_id") % 2 == 1).select("doc_id")
    return (
        new_docs.join(
            ncand.withColumnRenamed("new_id", "doc_id"), "doc_id", "left"
        )
        .join(best.withColumnRenamed("new_id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias(
                "n_candidates"
            ),
            F.col("old_id").cast("long").alias("best_match_id"),
            F.col("j_micro").cast("long").alias("best_j_micro"),
            F.coalesce(F.col("j_micro") >= 500000, F.lit(False)).alias(
                "is_dup"
            ),
        )
    )


@register(
    "zone_map_skipping_report",
    """
    WITH c AS (
        SELECT o_orderkey // 4096 AS file_id,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents
        FROM orders
    ), f AS (
        SELECT file_id, COUNT(*) AS n_rows,
               MIN(cents) AS min_c, MAX(cents) AS max_c,
               SUM(CASE WHEN cents > 10000000 THEN 1 ELSE 0 END) AS m1,
               SUM(CASE WHEN cents > 30000000 THEN 1 ELSE 0 END) AS m2,
               SUM(CASE WHEN cents > 50000000 THEN 1 ELSE 0 END) AS m3
        FROM c GROUP BY file_id
    ), agg AS (
        SELECT COUNT(*) AS n_files, SUM(n_rows) AS n_rows,
               SUM(CASE WHEN max_c <= 10000000 THEN 1 ELSE 0 END) AS s1,
               SUM(CASE WHEN max_c <= 10000000 THEN n_rows ELSE 0 END)
                   AS r1,
               SUM(m1) AS k1,
               SUM(CASE WHEN max_c <= 30000000 THEN 1 ELSE 0 END) AS s2,
               SUM(CASE WHEN max_c <= 30000000 THEN n_rows ELSE 0 END)
                   AS r2,
               SUM(m2) AS k2,
               SUM(CASE WHEN max_c <= 50000000 THEN 1 ELSE 0 END) AS s3,
               SUM(CASE WHEN max_c <= 50000000 THEN n_rows ELSE 0 END)
                   AS r3,
               SUM(m3) AS k3
        FROM f
    )
    SELECT 'cents_gt_10000000' AS predicate,
           CAST(n_files AS BIGINT) AS n_files,
           CAST(s1 AS BIGINT) AS n_files_skipped,
           CAST((1000000 * s1) // n_files AS BIGINT) AS skip_files_micro,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(r1 AS BIGINT) AS n_rows_skipped,
           CAST(k1 AS BIGINT) AS n_rows_matching
    FROM agg
    UNION ALL
    SELECT 'cents_gt_30000000', CAST(n_files AS BIGINT),
           CAST(s2 AS BIGINT), CAST((1000000 * s2) // n_files AS BIGINT),
           CAST(n_rows AS BIGINT), CAST(r2 AS BIGINT), CAST(k2 AS BIGINT)
    FROM agg
    UNION ALL
    SELECT 'cents_gt_50000000', CAST(n_files AS BIGINT),
           CAST(s3 AS BIGINT), CAST((1000000 * s3) // n_files AS BIGINT),
           CAST(n_rows AS BIGINT), CAST(r3 AS BIGINT), CAST(k3 AS BIGINT)
    FROM agg
    """,
    ops=["data-layout", "zone-map", "file-skipping"],
)
def zone_map_skipping_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max file-statistics) skipping audit — the
    measurement companion to zorder_clustering_report: rows are binned
    into synthetic 4096-key files (the row-group analog), each file
    keeps min/max of the price column exactly in cents, and three
    threshold predicates report how many files/rows a zone-map-aware
    scan PROVABLY skips (max <= threshold) vs the rows that actually
    match. The skip fraction is what decides whether a layout change
    (sort, z-order) pays for itself at 100 TB — this query makes it a
    hash-checked number.

    Scale shape: one (file_id) hash aggregate with conditional
    sums, one file-count-sized global fold, then a 3-arm stack — the
    per-arm metrics are CONDITIONAL COLUMNS of a single aggregate, so
    adding predicates costs zero extra scans, no joins anywhere."""
    o = _t(spark, sf_dir, "orders")
    c = o.select(
        F.expr("o_orderkey div 4096").alias("file_id"),
        (_dec2("o_totalprice") * 100).cast("long").alias("cents"),
    )
    thresholds = (10_000_000, 30_000_000, 50_000_000)
    f = c.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("cents").alias("min_c"),
        F.max("cents").alias("max_c"),
        *[
            F.sum(F.when(F.col("cents") > t, 1).otherwise(0)).alias(
                f"m{i + 1}"
            )
            for i, t in enumerate(thresholds)
        ],
    )
    agg = f.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_rows").alias("n_rows"),
        *[
            e
            for i, t in enumerate(thresholds)
            for e in (
                F.sum(F.when(F.col("max_c") <= t, 1).otherwise(0)).alias(
                    f"s{i + 1}"
                ),
                F.sum(
                    F.when(F.col("max_c") <= t, F.col("n_rows")).otherwise(0)
                ).alias(f"r{i + 1}"),
                F.sum(f"m{i + 1}").alias(f"k{i + 1}"),
            )
        ],
    )
    arms = ", ".join(
        f"'cents_gt_{t}', s{i + 1}, r{i + 1}, k{i + 1}"
        for i, t in enumerate(thresholds)
    )
    return agg.selectExpr(
        "n_files",
        "n_rows",
        f"stack(3, {arms}) AS (predicate, s, r, k)",
    ).select(
        "predicate",
        F.col("n_files").cast("long").alias("n_files"),
        F.col("s").cast("long").alias("n_files_skipped"),
        F.expr("CAST((1000000 * s) div n_files AS BIGINT)").alias(
            "skip_files_micro"
        ),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("r").cast("long").alias("n_rows_skipped"),
        F.col("k").cast("long").alias("n_rows_matching"),
    )


@register(
    "theil_sen_region_trend",
    """
    WITH monthly AS (
        SELECT r_name,
               (year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1
                   AS m,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, m
    ), slopes AS (
        SELECT a.r_name,
               ((b.cents - a.cents) * 1000000) // (b.m - a.m)
                   AS slope_micro
        FROM monthly a
        JOIN monthly b ON a.r_name = b.r_name AND a.m < b.m
    ), ranked AS (
        SELECT r_name, slope_micro,
               row_number() OVER (PARTITION BY r_name
                                  ORDER BY slope_micro) AS rn,
               COUNT(*) OVER (PARTITION BY r_name) AS n_pairs
        FROM slopes
    )
    SELECT r_name,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(slope_micro AS BIGINT) AS median_slope_micro_cents
    FROM ranked
    WHERE rn = (n_pairs + 1) // 2
    ORDER BY r_name
    """,
    ops=["stats-robust", "theil-sen", "timeseries-trend"],
)
def theil_sen_region_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per region: the median of all pairwise
    slopes of monthly revenue — the breakdown-resistant alternative to
    the least-squares trend (region_revenue_quad_trend), immune to up
    to ~29% outlier months. Every slope is an exact integer division
    in micro-cents per month — both engines TRUNCATE toward zero
    (DuckDB's integer `//` behaves like Spark's `div`, measured on
    negatives at sf0.1 where flooring mismatched by 1), and the median
    is the LOWER median (value at sorted position ⌈n/2⌉), chosen
    positionally so ties need no tiebreak column.

    Scale shape: the month aggregate is bounded by calendar span × 5
    regions (~420 rows at any SF); the pair self-join and the ranking
    window are over that aggregate, partitioned by region — the
    evaluate-on-aggregates pattern, no window or join ever touches raw
    order rows."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    monthly = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")),
               o.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_regionkey")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .groupBy(
            "r_name",
            F.expr(
                "(year(o_orderdate) - 1992) * 12"
                " + month(o_orderdate) - 1"
            ).alias("m"),
        )
        .agg((F.sum(_dec2("o_totalprice")) * 100).cast("long").alias("cents"))
    )
    a = monthly.select("r_name", F.col("m").alias("ma"),
                       F.col("cents").alias("ca"))
    b = monthly.select("r_name", F.col("m").alias("mb"),
                       F.col("cents").alias("cb"))
    slopes = (
        a.join(b, "r_name")
        .filter(F.col("ma") < F.col("mb"))
        .select(
            "r_name",
            # DuckDB's integer `//` TRUNCATES toward zero exactly like
            # Spark's `div` (measured: -7 // 2 = -3), so plain div is
            # the cross-engine-exact form for negative slopes too
            F.expr(
                "((cb - ca) * 1000000) div (mb - ma)"
            ).alias("slope_micro"),
        )
    )
    wr = Window.partitionBy("r_name").orderBy("slope_micro")
    wc = Window.partitionBy("r_name")
    ranked = slopes.select(
        "r_name",
        "slope_micro",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n_pairs"),
    )
    return (
        ranked.filter(F.expr("rn = (n_pairs + 1) div 2"))
        .select(
            "r_name",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("slope_micro").cast("long").alias(
                "median_slope_micro_cents"
            ),
        )
        .orderBy("r_name")
    )


# dHash closed-form oracle: the same 64 adjacent-pixel comparisons the
# Spark side performs on PAYLOAD BYTES, restated on the generator
# formula pixel(r,c) = (seed*7 + r*9 + c*13) % 256 with seed =
# doc_id % 50. Generated HERE (host Python, module import) so the bit
# weights are identical by construction in both engines.
def _dhash_half_sql(rows: range) -> str:
    terms = []
    for r in rows:
        for c in range(8):
            k = (r % 4) * 8 + c
            a = r * 9 + c * 13
            b = r * 9 + (c + 1) * 13
            terms.append(
                f"(CASE WHEN ((doc_id % 50) * 7 + {a}) % 256"
                f" < ((doc_id % 50) * 7 + {b}) % 256"
                f" THEN {1 << k} ELSE 0 END)"
            )
    return " + ".join(terms)


@register(
    "image_dhash_clusters",
    f"""
    WITH h AS (
        SELECT doc_id,
               CAST({_dhash_half_sql(range(0, 4))} AS BIGINT) AS dhash_lo,
               CAST({_dhash_half_sql(range(4, 8))} AS BIGINT) AS dhash_hi
        FROM documents
    )
    SELECT dhash_hi, dhash_lo,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_media_id
    FROM h GROUP BY dhash_hi, dhash_lo
    """,
    ops=["multimodal-binary", "perceptual-hash", "dedup-image"],
)
def image_dhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup on REAL pixel bytes: 72-byte raw
    grayscale strips (8×9, the post-resize shape) are synthesized
    in-plan with a seed-driven gradient (seed = doc_id % 50, so ~50
    byte-identical image classes exist by construction —
    multimodal.synthesize_gray8x9), the standard 64-bit difference
    hash is computed by READING THE BYTES BACK (64 adjacent-pixel
    comparisons via binary substring — multimodal.gray_dhash, split
    into two 32-bit BIGINT halves clear of the sign bit), and
    duplicates are clustered by exact dHash equality. The oracle
    restates the comparisons on the generator's closed form, so a hash
    match proves the byte-level pixel decode — not just the clustering
    shuffle. One hash aggregate after map-side expressions; at 100 TB
    this is the dedup-by-fingerprint shape for billions of thumbnails
    (Hamming-near matching on these halves is simhash_near_pairs'
    band trick, already covered there)."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    src = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 50).alias("img_seed"),
    )
    media = multimodal.synthesize_gray8x9(src)
    hashed = multimodal.gray_dhash(media)
    return hashed.groupBy("dhash_hi", "dhash_lo").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("media_id").cast("long").alias("min_media_id"),
    )


# CMS width-sweep oracle arms, generated host-side so Spark and DuckDB
# share the exact widths and the seeded-md5 cell construction
# (hash_bucket's '0x'||first-8-hex-chars parity, as heavy_hitters_cms).
_CMS_WIDTHS = (64, 256, 1024)
_CMS_ARM_SQL = "\n    UNION ALL\n".join(
    f"""    SELECT CAST({w} AS BIGINT) AS width,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(exact_n) AS BIGINT) AS sum_exact,
           CAST(SUM(est) AS BIGINT) AS sum_est,
           CAST(SUM(est - exact_n) AS BIGINT) AS total_overcount,
           CAST(MAX(est - exact_n) AS BIGINT) AS max_overcount
    FROM (
        SELECT p.user_id, p.exact_n, MIN(sk.c) AS est
        FROM (
            SELECT t.user_id, t.exact_n, rs.r,
                   CAST(('0x'||substr(md5('cms' || rs.r || ':'
                        || CAST(t.user_id AS VARCHAR)),1,8))
                        AS BIGINT) % {w} AS col
            FROM top t, rs
        ) p
        JOIN (
            SELECT rs.r AS r,
                   CAST(('0x'||substr(md5('cms' || rs.r || ':'
                        || CAST(user_id AS VARCHAR)),1,8))
                        AS BIGINT) % {w} AS col,
                   COUNT(*) AS c
            FROM events, rs GROUP BY r, col
        ) sk ON p.r = sk.r AND p.col = sk.col
        GROUP BY p.user_id, p.exact_n
    )"""
    for w in _CMS_WIDTHS
)


@register(
    "cms_width_error_sweep",
    f"""
    WITH rs AS (SELECT unnest(range(4)) AS r),
    top AS (
        SELECT user_id, COUNT(*) AS exact_n FROM events GROUP BY user_id
        ORDER BY exact_n DESC, user_id LIMIT 20
    )
{_CMS_ARM_SQL}
    ORDER BY width
    """,
    ops=["sketch-countmin", "operating-curve", "topk"],
)
def cms_width_error_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min OPERATING CURVE — the sketch-family twin of
    lsh_band_sweep: the same depth-4 seeded-md5 CMS built at widths
    64/256/1024, each point-estimating the exact top-20 event users,
    reporting total and worst-case overcount per width (CMS never
    undercounts, so these are ≥ 0 and shrink as width grows — the
    memory/accuracy trade a capacity planner reads before sizing a
    production sketch). Deterministic md5 cells mean the oracle
    reproduces every estimate exactly, so the CURVE itself is
    hash-checked, not just each sketch.

    Scale shape: each arm is one bounded depth-explode into a
    depth×width-cell aggregate (map-side mergeable — the property that
    makes CMS a streaming structure) probed by a broadcast 20-key
    relation; three arms = three scans, each independently partial-
    aggregated, no arm ever materializes more than depth·width
    rows."""
    e = _t(spark, sf_dir, "events")
    top = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "user_id")
        .limit(20)
    )
    arms = []
    for w in _CMS_WIDTHS:
        sketch = sketches.cms_build(e, "user_id", depth=4, width=w)
        est = sketches.cms_estimate(
            sketch, top.select("user_id"), "user_id", depth=4, width=w
        )
        joined = top.join(est, "user_id")
        arms.append(
            joined.agg(
                F.lit(w).cast("long").alias("width"),
                F.count(F.lit(1)).cast("long").alias("n_keys"),
                F.sum("exact_n").cast("long").alias("sum_exact"),
                F.sum("cms_est").cast("long").alias("sum_est"),
                F.sum(F.col("cms_est") - F.col("exact_n"))
                .cast("long")
                .alias("total_overcount"),
                F.max(F.col("cms_est") - F.col("exact_n"))
                .cast("long")
                .alias("max_overcount"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.orderBy("width")


# =====================================================================
# Round 10 — real raster decode (BMP end-to-end), second JDBC dialect,
# and coverage widening.
# =====================================================================

# BMP feature oracle: the Spark side DECODES PIXELS FROM BYTES
# (multimodal.decode_bmp24 inside extract_features(fake=False)); the
# oracle restates the features on the generator's closed pixel form —
# a hash match therefore proves the full encode→decode round trip
# (bottom-up row flip, per-row padding, BGR order), not just the
# aggregation. Dims per doc: w = 8 + doc_id%5 (8..12 — every padding
# class 0..3), h = 6 + doc_id%4, seed = doc_id%97. Luma = 299r + 587g
# + 114b, exact integers end to end. DuckDB 1.0 generate_series
# rejects lateral column args, so the pixel grid is a fixed 12x9
# cross join filtered by (x < w, y < h).
_BMP_LUM = (
    "299*((seed*7 + {x}*13 + y*31) % 256)"
    " + 587*((seed*11 + {x}*3 + y*17) % 256)"
    " + 114*((seed*5 + {x}*19 + y*23) % 256)"
)


@register(
    "bmp_feature_report",
    f"""
    WITH dims AS (
        SELECT doc_id,
               8 + doc_id % 5 AS w,
               6 + doc_id % 4 AS h,
               doc_id % 97 AS seed
        FROM documents
    ), grid AS (
        SELECT doc_id, w, h,
               {_BMP_LUM.format(x='x')} AS lum,
               CASE WHEN x < w - 1 THEN {_BMP_LUM.format(x='(x+1)')}
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
    ops=["multimodal-decode", "raster-codec", "feature-extract"],
)
def bmp_feature_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL multimodal decode path end-to-end: complete 24-bit
    BMPs (header + bottom-up padded BGR pixel rows) are synthesized as
    JVM column expressions (multimodal.synthesize_bmp24), then
    extract_features(fake=False) DECODES THE PIXELS BACK in
    Arrow-batched Python (multimodal.decode_bmp24 — stdlib struct, no
    codec libs) and computes exact integer luma features
    (bmp_pixel_features). The oracle recomputes the same features from
    the generator's closed pixel form, so a value-hash match proves
    decode correctness byte-for-byte: a missed row flip, padding
    miscount or BGR/RGB swap each shifts the luma statistics. Widths
    8..12 cover every 4-byte padding class. This is the sanctioned
    slow-path shape for 100 TB media curation: metadata projected
    before any shuffle, decode amortized over Arrow batches, features
    (not blobs) flowing downstream."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    src = d.select(
        F.col("doc_id").alias("media_id"),
        (8 + F.col("doc_id") % 5).cast("int").alias("width_px"),
        (6 + F.col("doc_id") % 4).cast("int").alias("height_px"),
        (F.col("doc_id") % 97).alias("img_seed"),
    )
    media = multimodal.synthesize_bmp24(src)
    return multimodal.extract_features(media, fake=False)


# dHash-over-resized oracle: the same floor-mapped box filter
# (source pixel (x,y) → output cell (x*9//w, y*8//h), truncating mean
# of per-pixel 8-bit luma) and the same 64 adjacent-cell comparisons
# the Spark side performs — restated on the BMP generator's closed
# pixel form with k = doc_id % 40 driving (w, h, seed), so byte-equal
# strips (and thus clusters) exist by construction.
_BMP_LUM8 = (
    "(299*((seed*7 + x*13 + y*31) % 256)"
    " + 587*((seed*11 + x*3 + y*17) % 256)"
    " + 114*((seed*5 + x*19 + y*23) % 256)) // 1000"
)


@register(
    "bmp_resize_dhash_clusters",
    f"""
    WITH dims AS (
        SELECT doc_id,
               12 + (doc_id % 40) % 7 AS w,
               9 + (doc_id % 40) % 5 AS h,
               doc_id % 40 AS seed
        FROM documents
    ), grid AS (
        SELECT doc_id,
               (x * 9) // w AS ox,
               (y * 8) // h AS oy,
               {_BMP_LUM8} AS lum8
        FROM dims
        CROSS JOIN (SELECT unnest(range(18)) AS x)
        CROSS JOIN (SELECT unnest(range(13)) AS y)
        WHERE x < w AND y < h
    ), rs AS (
        SELECT doc_id, oy, ox, SUM(lum8) // COUNT(*) AS gval
        FROM grid GROUP BY doc_id, oy, ox
    ), bits AS (
        SELECT a.doc_id, a.oy,
               (a.oy % 4) * 8 + a.ox AS k,
               CASE WHEN a.gval < b.gval THEN 1 ELSE 0 END AS bit
        FROM rs a JOIN rs b
          ON b.doc_id = a.doc_id AND b.oy = a.oy AND b.ox = a.ox + 1
        WHERE a.ox < 8
    ), hashes AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN oy < 4 THEN bit * (1 << k) ELSE 0 END)
                    AS BIGINT) AS dhash_lo,
               CAST(SUM(CASE WHEN oy >= 4 THEN bit * (1 << k) ELSE 0 END)
                    AS BIGINT) AS dhash_hi
        FROM bits GROUP BY doc_id
    )
    SELECT dhash_hi, dhash_lo,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_media_id
    FROM hashes GROUP BY dhash_hi, dhash_lo
    """,
    ops=["multimodal-decode", "image-resize", "perceptual-hash",
         "dedup-image"],
)
def bmp_resize_dhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full REAL image-dedup preprocessing chain, end to end:
    variable-size 24-bit BMPs (w ∈ 12..18, h ∈ 9..13, driven by
    class key doc_id % 40) are synthesized in-plan, DECODED from bytes
    (multimodal.decode_bmp24), box-filter RESIZED to the 9×8 grayscale
    strip with exact integer luma averaging
    (multimodal.gray_resize_area inside resize_images(fake=False)),
    and perceptually hashed by READING THE RESIZED BYTES BACK
    (multimodal.gray_dhash — 64 adjacent-cell comparisons in JVM
    expressions). The oracle restates decode + floor-mapped box filter
    + comparisons on the generator's closed form, so a hash match
    proves every stage: header walk, bottom-up flip, padding, BGR
    order, the area-average mapping, and the bit packing. Equal class
    keys give byte-identical strips, so ~40 real clusters exist by
    construction. At 100 TB this is the thumbnail-dedup pipeline:
    decode+resize amortized over Arrow batches, the 72-byte strip (not
    the image) shuffles, one hash aggregate."""
    d = _t(spark, sf_dir, "documents", fanout=True)
    k = F.col("doc_id") % 40
    src = d.select(
        F.col("doc_id").alias("media_id"),
        (12 + k % 7).cast("int").alias("width_px"),
        (9 + k % 5).cast("int").alias("height_px"),
        k.alias("img_seed"),
    )
    media = multimodal.synthesize_bmp24(src)
    strips = multimodal.resize_images(media, width=9, height=8, fake=False)
    hashed = multimodal.gray_dhash(strips)
    return hashed.groupBy("dhash_hi", "dhash_lo").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("media_id").cast("long").alias("min_media_id"),
    )


__all__ = [n for n in globals() if not n.startswith("__")]
