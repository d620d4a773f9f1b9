"""Structured Streaming extension (driver north star; the reference is
batch-only — SURVEY.md §1.1).

Every driver in the package runs its stream to completion through
:func:`drain`, and every parquet file source is :func:`file_stream`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter


def file_stream(
    spark: SparkSession, schema, source_dir: str, files_per_trigger: int = 1
) -> DataFrame:
    """Parquet file source over ``source_dir``, ``files_per_trigger``
    files per micro-batch (a bounded replay becomes several batches)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(source_dir)
    )


def drain(writer: DataStreamWriter) -> None:
    """Start ``writer``, process every available input, then stop —
    also when a batch fails, so no query is left running; the batch's
    error propagates."""
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
