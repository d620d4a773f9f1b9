"""Text-analysis operators over the documents table (north-star
extension: the pieces an LLM-training-data pipeline needs).

All operators are built-in-expression compositions (no UDFs): token
counting, quality scoring, n-gram language-ID, and document
fingerprinting. Ratios are exact integer divisions surfaced as doubles,
so every query here is oracle-checkable bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Real pipelines ship bigger lists; the operator shape
# (token-set hit counting + argmax with deterministic tiebreak) is what
# matters at scale.
STOPWORDS = {
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein"],
    "en": ["the", "and", "of", "to", "in", "is", "a", "that"],
    "es": ["el", "la", "de", "que", "y", "los", "un", "es"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une"],
    "zh": ["的", "是", "了", "在", "我", "有", "他", "这"],
}


def _tokens(text_col="text"):
    return F.split(F.lower(F.col(text_col)), " ")


def token_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish estimate.

    ``approx_bpe_tokens`` uses the public ~4-chars-per-token rule of
    thumb (ceil(n_chars/4)) — a deterministic stand-in for a real BPE
    vocab, which isn't in this container.
    """
    toks = _tokens(text_col)
    n_chars = F.length(F.col(text_col))
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        F.ceil(n_chars / F.lit(4.0)).cast("long").alias("approx_bpe_tokens"),
    )


# GPT-2-style pre-tokenizer regex, restricted to the syntax subset that
# Java regex (Spark) and RE2 (DuckDB) treat identically: contractions,
# letter runs, single digits, punctuation runs. No lookarounds, no \p
# classes — those diverge between engines.
BPE_SPLIT_PATTERN = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def bpe_tokenize(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Regex pre-tokenization (the split step that precedes BPE merges)
    with per-document stats. A real BPE vocab isn't in this container;
    the pre-tokenizer IS the part with distributed cost — pure map-side
    JVM regex, no shuffle, no Python.

    ``sum_token_chars`` is an exact integer fold over token lengths, so
    the mean token length divides identical integers on both engines.
    """
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(BPE_SPLIT_PATTERN), 0)
    sum_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_bpe_tokens"),
        sum_chars.alias("sum_token_chars"),
        # try_divide: token-less docs yield NULL, matching DuckDB's x/0
        # (plain `/` throws under Spark 4 ANSI mode)
        F.try_divide(sum_chars.cast("double"), F.size(toks)).alias("mean_token_len"),
    )


def quality_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic document quality: length band, type-token ratio,
    English-stopword ratio — the standard cheap pre-filter trio.

    score = 0.4·len_ok + 0.3·ttr + 0.3·stopword_ratio, all components
    exact rationals ⇒ bit-stable across engines.
    """
    toks = _tokens(text_col)
    n_tokens = F.size(toks)
    n_unique = F.size(F.array_distinct(toks))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS["en"])))
    len_ok = F.when((n_tokens >= 20) & (n_tokens <= 1000), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    ttr = n_unique.cast("double") / n_tokens
    stop_ratio = n_stop.cast("double") / n_tokens
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        ttr.alias("type_token_ratio"),
        stop_ratio.alias("stopword_ratio"),
        (F.lit(0.4) * len_ok + F.lit(0.3) * ttr + F.lit(0.3) * stop_ratio).alias(
            "quality_score"
        ),
    )


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    min_stop_hits: int = 2,
    min_distinct_ratio: float = 0.2,
) -> DataFrame:
    """Gopher-style document quality gates (Rae et al. 2021, published
    rule set): word-count bounds, mean-word-length bounds, stopword
    presence, and distinct-token ratio — per-rule booleans plus the
    overall ``keep`` flag, so downstream filtering AND rule-level audit
    reports come from one pass.

    All built-in expressions; the token array is materialized ONCE in a
    staging select (referencing the split expression repeatedly would
    re-inline it per use — the Catalyst re-inlining trap). Ratios are
    single IEEE divisions of exact integers ⇒ oracle-exact.
    """
    toks = F.filter(_tokens(text_col), lambda t: F.length(t) > 0)
    staged = df.select(F.col(id_col), toks.alias("_toks"))
    t = F.col("_toks")
    stop = STOPWORDS["en"]
    m = staged.select(
        F.col(id_col),
        F.size(t).alias("n_words"),
        F.aggregate(
            t, F.lit(0).cast("long"), lambda a, x: a + F.length(x).cast("long")
        ).alias("sum_chars"),
        F.size(F.filter(t, lambda x: x.isin(*stop))).alias("stop_hits"),
        F.size(F.array_distinct(t)).alias("n_distinct"),
    )
    nw = F.col("n_words")
    r = m.select(
        F.col(id_col),
        nw,
        F.when(nw > 0, F.col("sum_chars") / nw).alias("mean_word_len"),
        F.col("stop_hits"),
        F.when(nw > 0, F.col("n_distinct") / nw).alias("distinct_ratio"),
    )
    wc_ok = (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
    mwl_ok = F.coalesce(
        (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len),
        F.lit(False),
    )
    stop_ok = F.col("stop_hits") >= min_stop_hits
    distinct_ok = F.coalesce(
        F.col("distinct_ratio") >= min_distinct_ratio, F.lit(False)
    )
    return r.select(
        id_col,
        "n_words",
        "mean_word_len",
        "stop_hits",
        "distinct_ratio",
        wc_ok.alias("wc_ok"),
        mwl_ok.alias("mwl_ok"),
        stop_ok.alias("stop_ok"),
        distinct_ok.alias("distinct_ok"),
        (wc_ok & mwl_ok & stop_ok & distinct_ok).alias("keep"),
    )


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-hit language-ID with deterministic alphabetical-first
    argmax tiebreak. Adds hit counts per language + the prediction."""
    toks = _tokens(text_col)

    def hits(words: list[str]):
        # NB: the lambda must be unary — F.filter treats a 2-arg lambda
        # as (value, index), so capturing via closure, not default arg.
        return F.size(F.filter(toks, lambda t: t.isin(*words)))

    hit_cols = {
        lang: hits(words).alias(f"hits_{lang}")
        for lang, words in sorted(STOPWORDS.items())
    }
    out = df.select(F.col(id_col), F.col("lang").alias("actual_lang"), *hit_cols.values())
    langs = sorted(STOPWORDS)
    pred = F.lit(None)
    # alphabetical-first argmax: lang L wins if its hits >= every later
    # lang's hits and > every earlier lang's (earlier already failed).
    expr = None
    for i, lang in enumerate(langs):
        cond = None
        for other in langs:
            if other == lang:
                continue
            ge = F.col(f"hits_{lang}") >= F.col(f"hits_{other}") if langs.index(
                other
            ) > i else F.col(f"hits_{lang}") > F.col(f"hits_{other}")
            cond = ge if cond is None else (cond & ge)
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    # fall through (all-zero ties resolve to first language)
    pred = expr.otherwise(F.lit(langs[0]))
    return out.withColumn("predicted_lang", pred).withColumn(
        "is_correct", (F.col("predicted_lang") == F.col("actual_lang")).cast("int")
    )


def bottom_k_fingerprint(
    df: DataFrame,
    k: int = 4,
    ngram: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document fingerprint via a bottom-k sketch of rolling word-n-gram
    hashes: fp_i = min over shingles of md5(i || ':' || shingle).

    A compact content signature (near-dup docs share most components);
    the same seeded-md5 primitive as MinHash, so it's oracle-portable.
    """
    toks = _tokens(text_col)
    shingles = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - ngram, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, ngram)),
    )
    exploded = df.select(F.col(id_col), F.explode(shingles).alias("shingle")).filter(
        F.length("shingle") > 0
    )
    aggs = [
        F.min(F.md5(F.concat_ws(":", F.lit(i), F.col("shingle")))).alias(f"fp_{i}")
        for i in range(k)
    ]
    aggs.append(F.countDistinct("shingle").alias("n_shingles"))
    return exploded.groupBy(id_col).agg(*aggs)


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1): the
    share of the document occupied by its most frequent bigram, and the
    fraction of duplicated trigrams. High values flag boilerplate /
    machine-generated text for removal before training.

    Shape (r15 opt, guide §2.3/§2.4): ONE corpus scan — bigrams and
    trigrams are tagged with their size and exploded together, so the
    tokenizer + gram construction (the per-row cost) runs once instead
    of once per arm, and the former two aggregation chains + doc_id
    join (6 Exchanges, two scans) collapse to one
    groupBy(doc, k, gram) → groupBy(doc) chain (2 Exchanges, one
    scan). Conditional aggregates split the two gram sizes back apart;
    the inner join's "has both ≥1 bigram and ≥1 trigram" semantics is
    the trailing not-null filter (a doc with <3 tokens has no trigram
    rows and both its trigram aggregates come back NULL). Values are
    identical: per-(doc,k,gram) counts don't interact across k.
    """
    toks = _tokens(text_col)
    n = F.size(toks)

    def grams(k: int) -> F.Column:
        # element_at is 1-based; guard docs with < k tokens (sequence()
        # would go descending for start > stop).
        seq = F.sequence(F.lit(1), n - (k - 1))
        make = F.transform(
            seq,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(k)]
            ),
        )
        return F.when(n >= k, make).otherwise(F.array().cast("array<string>"))

    def tagged(k: int) -> F.Column:
        return F.transform(
            grams(k),
            lambda g: F.struct(F.lit(k).alias("k"), g.alias("g")),
        )

    is_big = F.col("k") == 2
    is_tri = F.col("k") == 3
    per_doc = (
        df.select(
            F.col(id_col),
            F.explode(F.concat(tagged(2), tagged(3))).alias("p"),
        )
        .groupBy(id_col, F.col("p.k").alias("k"), F.col("p.g").alias("g"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(id_col)
        .agg(
            F.sum(F.when(is_big, F.col("cnt"))).cast("long")
            .alias("n_bigrams"),
            F.max(F.when(is_big, F.col("cnt"))).cast("long")
            .alias("top_bigram_cnt"),
            F.sum(F.when(is_tri, F.col("cnt"))).cast("long")
            .alias("n_trigrams"),
            F.count(F.when(is_tri, F.lit(1))).cast("long")
            .alias("n_unique_trigrams"),
        )
    )
    return (
        per_doc.filter(
            F.col("n_bigrams").isNotNull() & F.col("n_trigrams").isNotNull()
        )
        .select(
            id_col,
            "n_bigrams",
            F.try_divide(
                F.col("top_bigram_cnt").cast("double"), F.col("n_bigrams")
            ).alias("top_bigram_share"),
            F.try_divide(
                (F.col("n_trigrams") - F.col("n_unique_trigrams")).cast("double"),
                F.col("n_trigrams"),
            ).alias("dup_trigram_frac"),
        )
    )


def top_terms_tfidf(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k most characteristic terms per document by TF·IDF with a
    LINEAR inverse document frequency (score = tf · N / df).

    The linear idf ranks identically to the usual log form within a
    document (log is monotone in N/df) but stays inside exactly-rounded
    IEEE ops (multiply, divide) — ln() is correctly-rounded in neither
    engine, so scores would drift in the last ulp across engines and
    break value-hash comparison. Same two-aggregation shape as any
    TF-IDF at scale: (doc, term) counts, term document frequencies, a
    1-row corpus size broadcast, and a per-doc top-k window with the
    term as tiebreaker.
    """
    toks = df.select(F.col(id_col), F.explode(_tokens(text_col)).alias("term")).filter(
        F.col("term") != ""
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        toks.select(id_col, "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = df.agg(F.count(F.lit(1)).alias("_n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * F.col("_n").cast("double")
            / F.col("df").cast("double"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(id_col, "term", "tf", "df", "score", F.col("rk").cast("int").alias("rk"))
    )


def winnowing_fingerprint(
    df: DataFrame,
    window: int = 4,
    ngram: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing (Schleimer et al., SIGMOD 2003): per position, hash the
    word n-gram; keep the min hash of every sliding window; the distinct
    kept hashes are the fingerprint set. Guarantees a match window for
    shared substrings ≥ window+ngram-1 tokens.

    posexplode + a rows-window min per document — shuffles once on
    doc_id; fingerprint cardinality is bounded by n_tokens/window on
    average. Output: (doc_id, fingerprint string, n_kept).
    """
    toks = _tokens(text_col)
    shingles = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - ngram, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, ngram)),
    )
    pos = df.select(
        F.col(id_col), F.posexplode(shingles).alias("pos", "shingle")
    ).withColumn("h", F.md5("shingle"))
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(-(window - 1), Window.currentRow)
    )
    kept = (
        pos.withColumn("wmin", F.min("h").over(w))
        .filter(F.col("pos") >= window - 1)
        .select(id_col, "wmin")
        .distinct()
    )
    return kept.groupBy(id_col).agg(
        F.md5(F.concat_ws("|", F.array_sort(F.collect_list("wmin")))).alias(
            "fingerprint"
        ),
        F.count(F.lit(1)).alias("n_kept"),
    )


# PII patterns restricted to the Java∩RE2 regex subset (no lookarounds,
# no \p classes — they diverge between Spark and the DuckDB oracle).
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
    "long_digits": r"[0-9]{6,}",
}
PII_ORDER = ["email", "ipv4", "long_digits"]  # most-specific first


def redact_pii(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PII redaction: replace emails, IPv4 addresses, and long digit
    runs with typed placeholders, counting each replacement.

    Pure map-side JVM regex (no shuffle, no UDF) — the shape survives
    any corpus size untouched. Patterns apply most-specific-first, and
    each count is taken on the text AFTER the earlier redactions (an
    email's digits are not also counted as a digit run), so the counts
    are exactly the replacements the rewrite performed.
    """
    cur = F.col(text_col)
    cols = [F.col(id_col)]
    for name in PII_ORDER:
        pat = PII_PATTERNS[name]
        cols.append(F.regexp_count(cur, F.lit(pat)).alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, f"<{name}>")
    cols.append(cur.alias("redacted"))
    return df.select(*cols)


def chunk_text(
    df: DataFrame,
    chunk_chars: int = 512,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into fixed-size character chunks (the
    context-window chunking step of a RAG/training pipeline), with
    optional overlap.

    Pure built-ins — sequence + explode + substring stay inside
    whole-stage codegen; a UDTF would move this to row-at-a-time
    Python for no semantic gain. Chunk starts step by
    ``chunk_chars - overlap``; every document yields at least one
    chunk (empty text included, as chunk 0).
    """
    step = chunk_chars - overlap
    assert step > 0, "overlap must be smaller than chunk_chars"
    n_chunks = F.greatest(
        F.ceil((F.length(text_col) - F.lit(overlap)) / F.lit(step)).cast("int"),
        F.lit(1),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.substring(F.col(text_col), i * step + 1, chunk_chars),
    )
    return df.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_index", "chunk")
    )


def chunk_dup_stats(
    df: DataFrame,
    chunk_words: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-corpus duplicated-chunk profile (the RefinedWeb/C4-style
    "duplicated line fraction" quality signal, with fixed word-window
    chunks standing in for lines on corpora without line structure).

    Each document is split into consecutive ``chunk_words``-word
    chunks; a chunk is *duplicated* if its exact text occurs more than
    once across the whole corpus. Output per document: ``n_chunks``,
    ``n_dup_chunks``, and ``dup_chunk_fraction`` (one exact integer
    division surfaced as DOUBLE — oracle bit-exact).

    Scale shape: chunking is map-side (split + transform + explode
    inside codegen); the corpus frequency table is one hash shuffle on
    the chunk text, and the per-doc rollup re-aggregates on the id key.
    No pairwise comparisons anywhere — cost is O(total words), the
    same discipline as the exact-dedup hash-groupBy (dedup.py).
    """
    cw = chunk_words
    words = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    chunks = (
        df.select(F.col(id_col), words.alias("__w"))
        .filter(F.size("__w") > 0)
        .select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0), F.expr(f"(size(__w) - 1) div {cw}")
                    ),
                    lambda j: F.array_join(
                        F.slice(F.col("__w"), j * cw + 1, F.lit(cw)), " "
                    ),
                )
            ).alias("chunk"),
        )
    )
    freq = chunks.groupBy("chunk").agg(F.count(F.lit(1)).alias("__n"))
    dup = F.sum(F.when(F.col("__n") > 1, 1).otherwise(0)).cast("long")
    return (
        chunks.join(freq, "chunk")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            dup.alias("n_dup_chunks"),
            (dup.cast("double") / F.count(F.lit(1))).alias(
                "dup_chunk_fraction"
            ),
        )
    )


def bigram_lift(
    df: DataFrame,
    min_pair_count: int = 3,
    k: int = 25,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k collocations by lift — the PMI ranking in exactly-rounded
    IEEE arithmetic: lift(a,b) = p(ab) / (p(a)·p(b)) computed as one
    left-associated chain of double multiplies/divides over exact
    integer counts, so the score (and therefore the ranking) is
    bit-identical on any engine. ln(lift) IS pointwise mutual
    information; ranking by lift ≡ ranking by PMI (ln is monotonic)
    without cross-engine libm drift (same trick as the linear-idf
    ranking in top_terms_tfidf).

    Adjacent word pairs within each document, corpus-wide counts, a
    frequency floor (``min_pair_count``) to suppress noise pairs, and
    a deterministic total order (lift DESC, then words) for the top-k.
    Scale: two hash aggregations (pair key, unigram key) plus two
    broadcast-scalar corpus totals; the ranked candidate set is
    vocabulary-sized, never corpus-sized.
    """
    words = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    w = df.select(F.col(id_col), words.alias("__w"))
    uni = w.select(F.explode("__w").alias("tok"))
    bg = (
        w.filter(F.size("__w") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("__w") - 2),
                    lambda i: F.struct(
                        F.element_at("__w", i + 1).alias("w1"),
                        F.element_at("__w", i + 2).alias("w2"),
                    ),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    uc = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n_uni = uni.agg(F.count(F.lit(1)).alias("n_uni"))
    n_bi = bg.agg(F.count(F.lit(1)).alias("n_bi"))
    bc = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= min_pair_count)
    )
    scored = (
        bc.join(F.broadcast(uc.select(F.col("tok").alias("w1"),
                                      F.col("c").alias("n_w1"))), "w1")
        .join(F.broadcast(uc.select(F.col("tok").alias("w2"),
                                    F.col("c").alias("n_w2"))), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select(
            "w1", "w2", "n_pair", "n_w1", "n_w2",
            (
                F.col("n_pair").cast("double")
                * F.col("n_uni") * F.col("n_uni")
                / F.col("n_bi") / F.col("n_w1") / F.col("n_w2")
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.col("lift").desc(), F.col("w1"), F.col("w2")
    ).limit(k)


def inverted_index(
    df: DataFrame,
    postings_cap: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Search-index build: per term, collection frequency, document
    frequency, and the head of the sorted posting list (first
    ``postings_cap`` doc ids, comma-joined — a bounded, deterministic
    sample of the postings; full lists are unbounded per term, so real
    indexes shard them by (term, bucket) rather than materializing one
    row — that sharding is a groupBy key change here, not a redesign).

    One hash aggregation on the term key; posting assembly
    (collect_set → sort → slice → join) is bounded by the DISTINCT doc
    count per term and capped before stringification.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
        ).alias("tok"),
    )
    return toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("cf"),
        F.size(F.collect_set(id_col)).cast("long").alias("df"),
        F.array_join(
            F.transform(
                F.slice(
                    F.array_sort(F.collect_set(id_col)), 1, postings_cap
                ),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings_head"),
    )


def strip_boilerplate(
    df: DataFrame,
    max_df_frac: float = 0.9,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-boilerplate removal: delete every occurrence of tokens
    whose document frequency exceeds ``max_df_frac`` of the corpus and
    rebuild the text in original token order — the token-granularity
    version of CCNet's shared-line stripping (headers, footers, nav
    text appear in most documents and carry no training signal).

    Two passes over the corpus, zero per-row Python: (1) the doc-
    distinct token relation aggregated to document frequencies, with
    the over-threshold tokens collected into ONE sorted stoplist row
    (vocabulary-bounded — the stoplist is by construction the most
    common tokens, a tiny fraction of the vocabulary); (2) a broadcast
    of that row onto the corpus and an in-row ``filter`` +
    ``array_join`` rebuild. The stoplist broadcast is the allowlisted
    1-row scalar shape.
    """
    toks_all = F.filter(
        F.split(F.lower(F.col(text_col)), " "), lambda t: t != F.lit("")
    )
    rel = df.select(
        F.col(id_col), F.explode(F.array_distinct(toks_all)).alias("token")
    )
    totals = df.agg(F.count(F.lit(1)).alias("_n"))
    stop = (
        rel.groupBy("token")
        .agg(F.count(F.lit(1)).alias("_df"))
        .crossJoin(F.broadcast(totals))
        .filter(F.col("_df") > F.floor(F.lit(max_df_frac) * F.col("_n")))
        .agg(F.array_sort(F.collect_list("token")).alias("_stoplist"))
    )
    kept = F.filter(
        toks_all,
        lambda t: ~F.array_contains(F.col("_stoplist"), t),
    )
    return df.crossJoin(F.broadcast(stop)).select(
        F.col(id_col),
        F.array_join(kept, " ").alias("cleaned_text"),
        F.size(toks_all).alias("n_tokens_before"),
        F.size(kept).alias("n_tokens_after"),
    )


def bpe_train_merges(
    df: DataFrame,
    n_merges: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train a (tiny) real BPE merge table on the corpus — the actual
    Sennrich et al. 2016 algorithm, not an approximation: start from
    characters, repeatedly merge the most frequent adjacent symbol
    pair, weighting by word frequency.

    Distribution shape: the corpus-sized work (word counting) is one
    explode + hash agg; every merge iteration then runs over the
    WORD-FREQUENCY relation (vocabulary-sized — the classic BPE
    optimization), so n_merges driver-loop rounds each cost one
    pair-explode + agg over the vocabulary, with a 1-row collect per
    round (same driver-loop discipline as connected_components'
    convergence check). Symbols are wrapped ⟨…⟩ so the adjacent-pair
    replace is a plain non-overlapping substring replace — identical
    semantics in any engine, no whitespace-sharing ambiguity.

    Ties break (freq DESC, left, right) — fully deterministic.
    Returns the merge table: (step, lhs, rhs, merged, freq).

    Job-count cost (read before passing a big n_merges): BPE merges
    are inherently sequential — merge k+1's pair counts depend on
    merge k's rewrite — so this trainer launches ``n_merges``
    SEQUENTIAL Spark jobs (each a vocabulary-sized agg + a 1-row
    collect). That is the right shape for the bounded merge tables
    these pipelines train in-engine (tens to a few hundred merges);
    a production 30k-100k-merge tokenizer belongs in a dedicated
    trainer over an EXPORTED word-frequency relation (one
    ``words``-relation snapshot from this module feeds it), not in
    30k Spark job rounds.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), " "), lambda t: t != F.lit("")
    )
    words = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.regexp_replace(F.col("w"), "(.)", "⟨$1⟩").alias("r"),
            "cnt",
        )
    )
    spark = df.sparkSession
    # Persist the vocabulary relation each round: without this, round
    # s's 1-row collect re-executes the corpus scan + word count + all
    # s-1 replaces from scratch — quadratic recompute in n_merges, and
    # n_merges+1 corpus scans instead of one. The persisted relation is
    # vocabulary-sized; each round swaps in the rewritten copy and
    # frees the previous one (same persist-and-free discipline as
    # dedup.connected_components' checkpoint rounds).
    words = words.persist()
    merges = []
    # One Spark job per round, not two (r15 opt, guide §1.2): round
    # s's 1-row collect scans every partition of the persisted
    # vocabulary (TakeOrdered over a full aggregate), so it IS the
    # materializing action for round s-1's rewrite — the explicit
    # count() job per round was redundant, and the parent is freed
    # right after the collect instead. The LAST round's rewrite is
    # never consumed by anyone (the merge table is complete once its
    # collect returns), so it is not built at all — n_merges jobs
    # total instead of 2·n_merges+1.
    prev = None
    for step in range(1, n_merges + 1):
        syms = F.regexp_extract_all(F.col("r"), F.lit("⟨([^⟩]+)⟩"), 1)
        pairs = (
            words.select(syms.alias("s"), "cnt")
            .filter(F.size("s") >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("s") - 1),
                        lambda i: F.struct(
                            F.element_at("s", i).alias("lhs"),
                            F.element_at("s", i + 1).alias("rhs"),
                        ),
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
            .agg(F.sum("cnt").alias("freq"))
        )
        top = (
            pairs.orderBy(F.col("freq").desc(), "lhs", "rhs").limit(1).collect()
        )
        if prev is not None:
            prev.unpersist()  # this round's collect materialized `words`
            prev = None
        if not top:
            break
        lhs, rhs, freq = top[0].lhs, top[0].rhs, top[0].freq
        merges.append((step, lhs, rhs, lhs + rhs, freq))
        if step < n_merges:
            prev = words
            words = words.select(
                F.replace(
                    F.col("r"),
                    F.lit(f"⟨{lhs}⟩⟨{rhs}⟩"),
                    F.lit(f"⟨{lhs}{rhs}⟩"),
                ).alias("r"),
                "cnt",
            ).persist()
    words.unpersist()
    return spark.createDataFrame(
        merges, "step int, lhs string, rhs string, merged string, freq long"
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 document scoring for a literal query term set — the
    retrieval primitive behind corpus search / RAG candidate
    generation. Lucene's idf variant: ``ln((N - df + 0.5)/(df + 0.5)
    + 1)`` (always positive).

    Returns one row per document containing ≥1 query term:
    ``(id_col, dl, n_hit_terms, bm25_fp9)`` where ``dl`` is the
    document token length and ``bm25_fp9`` the score as
    floor-fixed-point (1e-9 units, summed exactly as integers per the
    registry's float convention — each per-term score is floored
    BEFORE the per-document sum, so engines agree bit-for-bit).

    Scale shape: one token explode feeds two aggregations — document
    lengths (all tokens) and term frequencies (filtered to the query
    terms BEFORE the shuffle, so the tf agg moves only matching
    postings). Corpus stats (N, total token count) are a 1-row
    broadcast scalar; per-term dfs are a |q|-row broadcast. No window,
    no driver loop; the only shuffles key on doc id and term.

    No reference counterpart (north-star text-analysis family; nearest
    neighbour is inverted_index above).
    """
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
        ).alias("tok"),
    )
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    scal = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_toks"),
    )
    tf = (
        toks.filter(F.col("tok").isin(list(query_terms)))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfs = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df_t"))
    avgdl = F.col("total_toks").cast("double") / F.col("n_docs")
    idf = F.log(
        (
            (F.col("n_docs") - F.col("df_t")).cast("double") + F.lit(0.5)
        )
        / (F.col("df_t").cast("double") + F.lit(0.5))
        + F.lit(1.0)
    )
    denom = F.col("tf").cast("double") + F.lit(k1) * (
        F.lit(1.0 - b)
        + F.lit(b) * (F.col("dl").cast("double") / avgdl)
    )
    term = idf * (F.col("tf").cast("double") * F.lit(k1 + 1.0)) / denom
    scored = (
        tf.join(dl, id_col)
        .crossJoin(F.broadcast(scal))
        .join(F.broadcast(dfs), "tok")
        .select(
            F.col(id_col),
            F.col("dl"),
            F.floor(term * F.lit(1e9)).cast("long").alias("t_fp9"),
        )
    )
    return scored.groupBy(id_col, "dl").agg(
        F.count(F.lit(1)).alias("n_hit_terms"),
        F.sum("t_fp9").cast("long").alias("bm25_fp9"),
    )


def bpe_encode_stats(
    df: DataFrame,
    n_merges: int = 5,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Train-then-APPLY BPE: learn ``n_merges`` merges on the corpus
    (bpe_train_merges above), encode every word with them, and report
    per-group tokenization stats — the fertility/compression readout a
    tokenizer change is judged by before a training run.

    The apply side never re-encodes occurrences: the post-merge token
    count is a pure function of the word (the same marked-symbol
    replace chain as training), projected IN PLACE on the grouped
    (group, word, cnt) relation — no vocabulary join, no distinct
    shuffle (r14 opt). At 100 TB the corpus-sized work is the single
    word-count pass; every merge replace then evaluates once per
    distinct (group, word) as a map-side expression.

    Returns ``(group_col, n_words, n_chars, n_tokens, fertility_fp6,
    compression_fp6)`` — fertility = tokens/word, compression =
    tokens/chars, both floor-fp6 on identical-operand doubles.
    """
    merge_rows = bpe_train_merges(
        df, n_merges=n_merges, text_col=text_col
    ).collect()
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), " "), lambda t: t != F.lit("")
    )
    sw = (
        df.select(F.col(group_col), F.explode(toks).alias("w"))
        .groupBy(group_col, "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    r = F.regexp_replace(F.col("w"), "(.)", "⟨$1⟩")
    for m in merge_rows:
        r = F.replace(
            r,
            F.lit(f"⟨{m['lhs']}⟩⟨{m['rhs']}⟩"),
            F.lit(f"⟨{m['lhs']}{m['rhs']}⟩"),
        )
    # n_tok is a pure function of the word, so project it straight on
    # the grouped (group, word, cnt) relation (r14 opt): the former
    # distinct-vocabulary + hash-join spelling evaluated the corpus
    # word-count pass TWICE (sw fed both the distinct arm and the join
    # arm — no CSE across them) and paid a distinct shuffle + join for
    # a value the projection computes in place. Per-row replace
    # evaluations go from |distinct words| to |distinct (group, word)|
    # — the same order. Wall-NEUTRAL at sf0.1 (interleaved A/B 4.4-6.7
    # vs 3.9-6.9 s — the sequential 5-round trainer dominates); kept
    # for the plan shape: one fewer corpus pass, one fewer shuffle,
    # no join. Values unchanged (the oracle's vocabulary-join spelling
    # is value-identical because n_tok depends only on w) — parity
    # exact at both SFs.
    joined = sw.select(
        group_col, "w", "cnt",
        F.size(
            F.regexp_extract_all(r, F.lit("⟨([^⟩]+)⟩"), 1)
        ).cast("long").alias("n_tok"),
    )
    n_words = F.sum("cnt").cast("long")
    n_chars = F.sum(F.col("cnt") * F.length("w")).cast("long")
    n_tokens = F.sum(F.col("cnt") * F.col("n_tok")).cast("long")
    return (
        joined.groupBy(group_col)
        .agg(
            n_words.alias("n_words"),
            n_chars.alias("n_chars"),
            n_tokens.alias("n_tokens"),
        )
        .select(
            group_col,
            "n_words",
            "n_chars",
            "n_tokens",
            F.floor(
                F.col("n_tokens").cast("double")
                / F.col("n_words")
                * F.lit(1e6)
            ).cast("long").alias("fertility_fp6"),
            F.floor(
                F.col("n_tokens").cast("double")
                / F.col("n_chars")
                * F.lit(1e6)
            ).cast("long").alias("compression_fp6"),
        )
    )


def feature_hash_embedding(
    df: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Model-free text EMBEDDING GENERATION via the hashing trick
    (Weinberger et al. 2009's feature hashing / count-sketch): every
    token hashes to one of ``dim`` buckets with a ±1 sign, and the
    document vector is the signed token-count per bucket — the
    vectorizer that links the text tables to the ANN/similarity family
    when no model is available, and the classic at-scale baseline
    (sklearn's HashingVectorizer) because it needs no vocabulary build
    and no driver state.

    Determinism/portability: bucket and sign come from md5 hex-char
    parities (the similarity.rademacher_component_col construction —
    identical in any engine with md5), components are exact integer
    sums, and the squared L2 norm is an exact integer. ``dim`` must be
    a power of two ≤ 2^14 (parity bits are drawn per hex char).

    Scale shape: one token explode → one (id, bucket) aggregation →
    one per-document map assembly. No vocabulary relation, no
    broadcast, no UDF; output is dim longs per document.

    Returns ``(id_col, embedding array<long>, n_tokens, nnz,
    norm2)``.
    """
    n_bits = (dim - 1).bit_length()
    assert dim == 1 << n_bits and n_bits <= 14, "dim must be a power of 2"
    tok = F.explode(
        F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    ).alias("tok")
    h = F.md5(F.col("tok"))
    odd = ("1", "3", "5", "7", "9", "b", "d", "f")

    def bit(c: int) -> F.Column:
        return F.when(F.substring(h, c, 1).isin(*odd), F.lit(1)).otherwise(
            F.lit(0)
        )

    bucket = F.lit(0)
    for k in range(n_bits):
        bucket = bucket + bit(k + 1) * F.lit(1 << k)
    sign = F.when(bit(n_bits + 1) == 1, F.lit(1)).otherwise(F.lit(-1))
    comps = (
        df.select(F.col(id_col), tok)
        .select(
            id_col,
            bucket.cast("int").alias("bucket"),
            sign.cast("long").alias("sign"),
        )
        .groupBy(id_col, "bucket")
        .agg(F.sum("sign").alias("comp"), F.count(F.lit(1)).alias("n_tok"))
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: F.coalesce(
            F.element_at(F.col("_m"), d.cast("int")), F.lit(0).cast("long")
        ),
    )
    return (
        comps.groupBy(id_col)
        .agg(
            F.map_from_entries(
                F.array_sort(
                    F.collect_list(F.struct(F.col("bucket"), F.col("comp")))
                )
            ).alias("_m"),
            F.sum("n_tok").alias("n_tokens"),
            F.count(F.lit(1)).alias("nnz_buckets"),
            F.sum(F.col("comp") * F.col("comp")).alias("norm2"),
        )
        .select(
            F.col(id_col),
            vec.alias("embedding"),
            "n_tokens",
            "nnz_buckets",
            "norm2",
        )
    )


def chat_template_lint(
    df: DataFrame,
    json_col: str = "chat_json",
    id_col: str = "doc_id",
) -> DataFrame:
    """Validate chat-transcript JSON — the format gate every SFT /
    RLHF data pipeline runs before training: parse
    ``[{"role": ..., "content": ...}, ...]`` with ``from_json`` and
    check, ENTIRELY from the parsed value (map-side HOFs, no Python):

    - ``roles_ok``      — every role ∈ {system, user, assistant}
    - ``has_system``    — transcript opens with a system turn
    - ``alternation_ok``— after the optional leading system turn,
      roles strictly alternate user/assistant starting with user
    - ``ends_with_assistant`` — last turn is the model's
    - ``no_empty_content``    — no empty-string content anywhere

    Returns one row per transcript with the flags + ``n_messages``.
    A malformed JSON string parses to NULL → every flag NULL, which
    aggregates as "not valid" under null-safe counting. All checks are
    whole-stage-codegen'd expressions over the parsed array — the
    shape that lints billions of transcripts without leaving the JVM.
    """
    schema = "array<struct<role:string,content:string>>"
    parsed = df.select(
        F.col(id_col),
        F.from_json(F.col(json_col), schema).alias("_m"),
    )
    return parsed.select(
        id_col,
        F.size("_m").alias("n_messages"),
        F.expr("_m[0].role = 'system'").alias("has_system"),
        F.expr(
            "forall(_m, m -> m.role IN ('system','user','assistant'))"
        ).alias("roles_ok"),
        F.expr(
            "forall(transform("
            " CASE WHEN _m[0].role = 'system'"
            "      THEN slice(_m, 2, size(_m) - 1) ELSE _m END,"
            " (m, i) -> m.role = IF(i % 2 = 0, 'user', 'assistant')"
            "), x -> x)"
        ).alias("alternation_ok"),
        F.expr("element_at(_m, -1).role = 'assistant'").alias(
            "ends_with_assistant"
        ),
        F.expr("forall(_m, m -> length(m.content) > 0)").alias(
            "no_empty_content"
        ),
    )
