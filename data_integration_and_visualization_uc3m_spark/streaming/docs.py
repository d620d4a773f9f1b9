"""Streaming document ingestion with index-backed near-dup filtering.

The production shape of corpus ingestion at 100 TB: documents arrive in
micro-batches; each batch is MinHash-banded and probed against a
PERSISTENT band-bucket index holding every previously seen document.
Colliding documents (≥1 shared LSH band bucket ⇒ near-dup candidate at
the S-curve's operating point) are dropped; the whole batch's buckets —
survivors AND dropped docs — are appended to the index so later
re-deliveries of a near-dup family keep matching it.

Indexing every incoming document (not only survivors) is deliberate:
it makes the keep/drop decision a pure function of arrival order with
no cascade through earlier drops, so the result is reproducible by one
non-recursive SQL query (the oracle) and is insensitive to exactly
which member of a near-dup family arrived first.

Scale: the per-batch probe is an equi-join on (band, bucket) — at
1000-executor scale the index lives partitioned/bucketed by a hash of
(band, bucket) so the probe co-locates without a full shuffle of the
index side; the append stays partition-aligned. The local form uses a
plain parquet directory (appends are new files; no rewrite).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TESTDATA
from . import drain, file_stream

DOCS_STREAM_SCHEMA = TESTDATA["documents"]

LSH_BANDS = 4
LSH_ROWS_PER_BAND = 4
MINHASHES = LSH_BANDS * LSH_ROWS_PER_BAND


def batch_band_buckets(batch_df: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) for one micro-batch: word-3-gram shingles
    → 16 seeded-md5 minhashes (wide single-pass) → 4×4 banding. Same
    constructions as the batch dedup pipeline (operators.dedup), so the
    streaming filter and the batch oracle agree bit-for-bit."""
    from ..operators import dedup

    sets = dedup.ngram_set(batch_df, n=3)
    sigs = dedup.minhash_signatures(sets, num_hashes=MINHASHES, item_col="shingle")
    return dedup.band_buckets(
        sigs, bands=LSH_BANDS, rows_per_band=LSH_ROWS_PER_BAND
    )


def _index_exists(spark: SparkSession, index_dir: str) -> bool:
    """True iff the band-bucket index directory exists with ≥1 epoch.

    An explicit filesystem probe (Hadoop FS, so it works on object
    stores too), not a broad ``except AnalysisException`` around the
    read: a genuinely corrupt or unreadable index must raise, not
    silently degrade to "no dedup"."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(index_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return False
    it = fs.listStatus(path)
    return any(s.getPath().getName().startswith("epoch=") for s in it)


def read_survivors(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the deduplicated document stream output with the internal
    ``epoch`` partition column dropped — the schema downstream readers
    should see (identical to the source document schema)."""
    return spark.read.parquet(out_dir).select(
        *[f.name for f in DOCS_STREAM_SCHEMA.fields]
    )


def run_stream_lsh_dedup(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
) -> None:
    """File stream → per-batch MinHash-LSH novelty filter → append sink.

    Per micro-batch (one staged file):
      1. band-bucket the batch's documents,
      2. drop any document sharing a bucket with the index (earlier
         batches) or with a smaller-doc_id document in its own batch,
      3. append survivors to ``out_dir``; append ALL batch buckets to
         ``index_dir`` (see module docstring for why all).

    The keep rule is deterministic given file arrival order (the stager
    pins mtimes so FileStreamSource's timestamp ordering is the chunk
    order) — proven end-to-end by the ``streaming_lsh_dedup_e2e``
    oracle, which recomputes the same decision in one SQL query.

    Lifecycle contract: ``checkpoint_dir``, ``index_dir`` and
    ``out_dir`` live and die together. Epoch ids come from the
    checkpoint, and the replay-safe probe reads only strictly-earlier
    epochs — starting a FRESH checkpoint against surviving index/out
    dirs would restart epoch numbering and shadow the old epochs from
    the probe. Wipe all three to restart a corpus.
    """
    from ..session import tune

    tune(spark)

    def sink(batch_df, epoch_id: int) -> None:
        if not batch_df.take(1):
            return
        # one batch feeds three consumers (index probe, in-batch probe,
        # index append) — persist so the shingle+minhash pass runs once
        buckets = batch_band_buckets(batch_df).persist()
        try:
            if _index_exists(spark, index_dir):
                # STRICTLY-EARLIER epochs only: foreachBatch is
                # at-least-once, so a crash after the index write below
                # but before the checkpoint commit replays this epoch —
                # an unfiltered probe would then see epoch N's own
                # buckets, collide every document with itself, and the
                # epoch-scoped overwrite would persist an EMPTY survivor
                # set. The epoch partition column makes the filter a
                # partition prune, not a data scan.
                index = (
                    spark.read.parquet(index_dir)
                    .filter(F.col("epoch") < F.lit(epoch_id))
                    .select("band", "bucket")
                )
                hit_index = (
                    buckets.join(index, ["band", "bucket"], "left_semi")
                    .select("doc_id")
                )
            else:  # first batch — no index yet
                hit_index = batch_df.select("doc_id").limit(0)
            a, b = buckets.alias("a"), buckets.alias("b")
            hit_batch = (
                a.join(
                    b,
                    (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bucket") == F.col("b.bucket"))
                    & (F.col("b.doc_id") < F.col("a.doc_id")),
                    "left_semi",
                )
                .select(F.col("doc_id"))
            )
            dropped = hit_index.unionByName(hit_batch).distinct()
            survivors = batch_df.join(dropped, "doc_id", "left_anti")
            # EPOCH-SCOPED OVERWRITE, not append: foreachBatch is
            # at-least-once — a crash after the write but before the
            # epoch commits to the checkpoint replays the same epoch on
            # restart, and an append would then double-count the batch.
            # Writing each epoch to its own subdirectory with overwrite
            # makes the replay idempotent; readers see the union via
            # ordinary partition discovery. (Note: the epoch dirs read
            # back as partitioned data, so `epoch` appears as a column —
            # downstream reads go through read_survivors(), which drops
            # it.)
            survivors.write.mode("overwrite").parquet(
                f"{out_dir}/epoch={epoch_id}"
            )
            buckets.write.mode("overwrite").parquet(
                f"{index_dir}/epoch={epoch_id}"
            )
        finally:
            buckets.unpersist()

    drain(
        file_stream(spark, DOCS_STREAM_SCHEMA, source_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )


def curate_stream(stream: DataFrame, keep_frac: float = 0.5,
                  seed: str = "scur", tau: float = 0.25) -> DataFrame:
    """Ingest-time curation transform — STATELESS, so it applies
    unchanged to a batch or streaming DataFrame (the parity the e2e
    oracle asserts): a deterministic md5 hash sampler composed with
    the frozen-weight linear quality gate (same features and rational
    squash as queries.quality_classifier_filter). No state store, no
    watermark; every predicate is map-side, so at 100 TB/day this is
    pure per-file work with zero shuffle in the micro-batch."""
    from ..operators.sampling import HASH_SPACE, hash_bucket
    from ..operators.text import STOPWORDS, _tokens

    sampled = stream.filter(
        hash_bucket(F.col("doc_id"), seed)
        < F.lit(int(keep_frac * HASH_SPACE))
    )
    # score expressions INLINE on the stream (a join of the stream with
    # a derivation of itself would be a stream-stream join and drag in
    # watermark state for a stateless gate). Same features and squash
    # as queries.quality_classifier_filter, which the oracle replays.
    toks = _tokens("text")
    n_tokens = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS["en"]))).cast(
            "double"
        )
        / n_tokens
    )
    z = (
        F.lit(-0.8)
        + F.lit(1.2) * ttr
        + F.lit(2.0) * stop_ratio
        + F.lit(0.002) * n_tokens
    )
    scored = sampled.withColumn("score", z / (F.lit(1) + F.abs(z)))
    return scored.filter(F.col("score") >= F.lit(tau)).select(
        *[f.name for f in DOCS_STREAM_SCHEMA.fields], "score"
    )


def run_stream_curate_to_parquet(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    keep_frac: float = 0.5,
    seed: str = "scur",
    tau: float = 0.25,
) -> None:
    """Streaming ingest curation e2e: documents arrive as a file
    stream, pass the stateless sample+quality gate, and land via the
    exactly-once parquet file sink. Deterministic predicates ⇒ the
    output row set equals the batch run of the same transform, which
    is what the oracle asserts."""
    stream = file_stream(spark, DOCS_STREAM_SCHEMA, source_dir, 2)
    drain(
        curate_stream(stream, keep_frac, seed, tau)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
