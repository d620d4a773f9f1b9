"""Streaming incremental ANN index maintenance.

The production shape of embedding-index ingestion at 100 TB: vectors
arrive in micro-batches; the FIRST batch trains the cell structure
(adaptive-resolution SRP descent, similarity.adaptive_lsh_cells) and
its population counts are FROZEN — every later batch assigns through
those counts (an unseen bucket opens at the coarse level) and merges
into the stored k-NN edge artifact with
similarity.knn_graph_delta_merge_prebuilt, so per-batch compute is
delta-proportional: delta-sized join arms plus one streaming pass over
the stored |V|·k edges. This is the frozen-IVF convention — the
quantizer trains once, serves many batches, and a periodic full
rebuild re-balances (outside this stream's scope).

Replay safety (foreachBatch is at-least-once): all state is written
EPOCH-SCOPED with overwrite — ``counts/epoch=N``, ``keyed/epoch=N``
(cumulative vectors), ``edges/epoch=N`` (the complete merged edge
relation as of N) — and every batch reads only STRICTLY-EARLIER
epochs, so a crash-replay of epoch N recomputes byte-identical state
from the same inputs instead of double-merging. Readers take the
newest edge epoch. The COMPUTE per epoch is the incremental merge;
persisting the full merged artifact per epoch is ordinary checkpoint
hygiene (the |V|·k relation IS the index a server stores).

The end-to-end contract the ``streaming_ann_index_e2e`` oracle pins:
after all batches, the newest edge epoch EQUALS the frozen-cell FULL
REBUILD over every arrived vector with counts from batch 0 — the
incremental == batch identity, held across micro-batch boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity
from ..schemas import TESTDATA
from . import drain, file_stream

EMB_STREAM_SCHEMA = TESTDATA["embeddings"]


def _epochs(spark: SparkSession, state_dir: str) -> list[int]:
    """Committed epoch ids under an epoch-partitioned state dir
    (Hadoop FS listing, so object stores work too; missing dir = [])."""
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(state_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return []
    out = []
    for s in fs.listStatus(path):
        name = s.getPath().getName()
        if name.startswith("epoch="):
            out.append(int(name.split("=", 1)[1]))
    return sorted(out)


def run_stream_ann_index(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    k: int = 8,
    cell_cap: int = 64,
) -> None:
    """File stream of embedding chunks → frozen-cell incremental k-NN
    index. State layout under ``state_dir``: counts/ keyed/ edges/,
    each epoch-partitioned (see module docstring). ``checkpoint_dir``
    and ``state_dir`` live and die together."""

    sink = make_index_sink(spark, state_dir, k, cell_cap)
    drain(
        file_stream(spark, EMB_STREAM_SCHEMA, source_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )


def make_index_sink(spark: SparkSession, state_dir: str,
                    k: int = 8, cell_cap: int = 64):
    """The foreachBatch sink as a standalone callable — exposed so
    the crash-replay contract is directly testable: calling the sink
    twice with the same epoch_id (an at-least-once redelivery) must
    leave state identical to a single delivery."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.take(1):
            return
        counts_dir = f"{state_dir}/counts"
        keyed_dir = f"{state_dir}/keyed"
        edges_dir = f"{state_dir}/edges"
        prior = [e for e in _epochs(spark, edges_dir) if e < epoch_id]

        srp = similarity._srp_keyed(batch_df, "vec_id", "embedding")
        if not prior:
            # batch 0: train the frozen cell structure
            c4 = srp.groupBy("_b4").agg(F.count(F.lit(1)).alias("_n4"))
            c8 = srp.groupBy("_b8").agg(F.count(F.lit(1)).alias("_n8"))
            # staged: the pair arms consume keyed twice (the no-CSE
            # lesson); the batch relation is bounded
            keyed = similarity._descend(srp, c4, c8, cell_cap).localCheckpoint()
            edges = similarity._keep_topk(
                similarity._cell_pair_scores(keyed, keyed), k
            )
            # counts persist as one two-column union relation
            counts = c4.select(
                F.lit("b4").alias("res"), F.col("_b4").alias("b"),
                F.col("_n4").alias("n"),
            ).unionByName(c8.select(
                F.lit("b8").alias("res"), F.col("_b8").alias("b"),
                F.col("_n8").alias("n"),
            ))
            counts.write.mode("overwrite").parquet(
                f"{counts_dir}/epoch={epoch_id}")
        else:
            first = min(_epochs(spark, counts_dir))
            counts = spark.read.parquet(f"{counts_dir}/epoch={first}")
            c4 = counts.filter(F.col("res") == "b4").select(
                F.col("b").alias("_b4"), F.col("n").alias("_n4"))
            c8 = counts.filter(F.col("res") == "b8").select(
                F.col("b").alias("_b8"), F.col("n").alias("_n8"))
            last = max(prior)
            base_keyed = spark.read.parquet(f"{keyed_dir}/epoch={last}")
            base_edges = spark.read.parquet(f"{edges_dir}/epoch={last}")
            delta_keyed = similarity._descend(
                srp, c4, c8, cell_cap
            ).localCheckpoint()
            keyed = base_keyed.unionByName(delta_keyed)
            edges = similarity.knn_graph_delta_merge_prebuilt(
                base_keyed, base_edges, delta_keyed, k
            )
        keyed.write.mode("overwrite").parquet(
            f"{keyed_dir}/epoch={epoch_id}")
        edges.write.mode("overwrite").parquet(
            f"{edges_dir}/epoch={epoch_id}")

    return sink


def read_index_edges(spark: SparkSession, state_dir: str) -> DataFrame:
    """The CURRENT index: the newest committed edge epoch."""
    last = max(_epochs(spark, f"{state_dir}/edges"))
    return spark.read.parquet(f"{state_dir}/edges/epoch={last}")
