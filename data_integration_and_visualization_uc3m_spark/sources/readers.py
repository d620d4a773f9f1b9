"""File readers with declared schemas (SURVEY.md §2.1, S5-S7).

Schema is always passed explicitly (no inferSchema in the engine path):
inference costs an extra pass and can flip types between files — wrong
at 100 TB. The testdata catalog mirrors ``TESTDATA.md``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import TESTDATA, YEARS

# Small-scan re-spread bounds: a parquet file is splittable only at
# row-group boundaries, so a small single-file table scans as ONE task
# and serializes every downstream narrow op (explode, hash, filter)
# onto one core — measured 3-4x on the shingle/minhash pipelines at
# sf0.1 on local[32]. Repartitioning such scans costs one shuffle of
# < _RESPREAD_MAX_BYTES (trivial by construction) and buys full map
# parallelism — but that extra stage is pure tax (~0.3-0.5 s) on
# queries whose downstream work per row is trivial (measured 2-3.4x
# regressions on dedup_exact_docs / deterministic_slice in round 2
# when the re-spread was unconditional). Hence OPT-IN: only scans
# feeding genuine fan-out (explode of shingles/tokens/chunks, per-row
# regex sweeps) pass ``respread=True``. Above the cap the scan already
# splits; below the floor the table is a broadcast-bound dimension.
# At production scale (files >> cores) this never triggers.
_RESPREAD_MIN_BYTES = 256 * 1024
_RESPREAD_MAX_BYTES = 64 * 1024 * 1024


# Footer-derived at-rest schemas keyed on (path, size, mtime_ns). An
# undeclared parquet read runs a one-task schema-inference job on every
# call (~108 ms wall, ~220 ms CPU); a declared-schema read costs ~8 ms.
# The stat key is what keeps the memo correct: the at-rest ts unit has
# changed between testdata generations, and a rewritten file gets a new
# key, so it is read with its own footer.
_AT_REST_SCHEMAS: dict[tuple[str, int, int], T.StructType] = {}


def _read_at_rest(spark: SparkSession, path: str) -> DataFrame:
    """Read ``path`` with its own footer schema, inferring it once per
    file version. A path ``os.stat`` cannot see (object store, remote
    FS) is inferred on every call, as an unmemoised read would be."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    key = (path, st.st_size, st.st_mtime_ns)
    schema = _AT_REST_SCHEMAS.get(key)
    if schema is None:
        raw = spark.read.parquet(path)
        _AT_REST_SCHEMAS[key] = raw.schema
        return raw
    return spark.read.schema(schema).parquet(path)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, respread: bool = False
) -> DataFrame:
    """Read one driver-testdata table with its declared schema.

    ``respread=True`` re-spreads a small single-file scan across all
    cores (see bounds rationale above) — pass it only when the caller
    fans the rows out (explode-heavy pipelines).

    ``events.ts``'s at-rest representation has varied across driver
    testdata generations — TIMESTAMP(NANOS,false) (unreadable by Spark
    natively; arrives as int64 nanos under
    ``spark.sql.legacy.parquet.nanosAsLong``) vs TIMESTAMP(MICROS,false)
    (arrives as TimestampNTZType). Assuming one fixed unit corrupts the
    other by exactly 1000× (a round-4 regression: every event landed in
    1970), so the events read is footer-driven: Spark reads the
    parquet's own schema (a footer lookup, NOT row-level inference,
    done once per file version by ``_read_at_rest``) and normalizes
    whatever arrived to the
    engine-contract microsecond TimestampType. int64 nanos convert via
    exact integer division (``div``, not ``/`` — float division loses
    precision above 2^53 ns), matching DuckDB's nanos→micros
    truncation; NTZ casts under the session's pinned UTC zone
    (session.tune), which is value-preserving. All non-ts columns are
    cast to the declared contract types so downstream plans see one
    stable schema regardless of the file generation. Failure modes are
    LOUD either way: a column missing from a future file generation
    throws UNRESOLVED_COLUMN at the select, and an incompatible value
    drift throws at runtime because Spark 4 runs ANSI casts (this
    engine never uses try_cast on the contract path).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        raw = _read_at_rest(spark, path)
        at_rest = {f.name: f.dataType for f in raw.schema.fields}["ts"]
        if isinstance(at_rest, T.LongType):  # TIMESTAMP(NANOS) as int64
            ts = F.timestamp_micros(F.expr("ts div 1000"))
        else:  # TimestampNTZType / TimestampType
            ts = F.col("ts").cast(T.TimestampType())
        df = raw.select(
            *[
                ts.alias("ts") if f.name == "ts"
                else F.col(f.name).cast(f.dataType).alias(f.name)
                for f in TESTDATA[name].fields
            ]
        )
    else:
        df = spark.read.schema(TESTDATA[name]).parquet(path)
    if respread:
        try:
            nbytes = os.path.getsize(path)
        except OSError:  # non-local path (dir, object store) — already multi-file
            nbytes = None
        if nbytes is not None and _RESPREAD_MIN_BYTES < nbytes < _RESPREAD_MAX_BYTES:
            df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S5/S6 — CSV scan with declared schema and a header row (reference:
    ``pandas.read_csv`` at ``crime_immigration_etl.py:144-148``,
    ``map-making/create-maps.py:11``)."""
    return spark.read.schema(schema).csv(path, header=True)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """Columnar-format breadth: ORC scan (same pushdown/pruning
    machinery as parquet — predicate pushdown and column pruning reach
    the ORC reader identically). Interop surface for warehouses whose
    at-rest format is ORC (Hive lineage) rather than parquet."""
    return spark.read.orc(path)


def local_frame(
    spark: SparkSession, rows: list[dict], schema: T.StructType
) -> DataFrame:
    """Driver-held rows (API pages, small lookups) as an Arrow-built
    local relation. ``createDataFrame(list)`` plans a ``Scan
    ExistingRDD`` over a Python RDD, so every job that reads the frame
    unpickles its rows in Python workers again (about 1 CPU-s per job
    for the 1,019-row World Bank frame); an Arrow table plans as
    ``LocalTableScan`` and runs no Python at execution time.

    ``rows`` are dicts keyed by field name; keys outside ``schema`` are
    dropped. JSON leaves are untyped, so each string leaf gets the
    string the row path gives: ``None`` and ``str`` unchanged, ``bool``
    → ``"true"``/``"false"``, any other scalar → ``str(v)``. A struct
    value must be a dict or ``None``. No rows give the empty frame with
    the declared schema, the S3 all-or-nothing ingest fallback
    (``crime_immigration_etl.py:128-130``)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(
        [_conform(r, schema) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def _conform(value, dtype: T.DataType):
    if value is None:
        return None
    if isinstance(dtype, T.StructType):
        if not isinstance(value, dict):
            raise TypeError(
                f"{dtype.simpleString()} needs a dict, got {type(value).__name__}"
            )
        return {f.name: _conform(value.get(f.name), f.dataType) for f in dtype.fields}
    if isinstance(dtype, T.StringType) and not isinstance(value, str):
        return ("true" if value else "false") if isinstance(value, bool) else str(value)
    return value


def year_dim(spark: SparkSession) -> DataFrame:
    """S7 — static year-dimension seed (``schemas.YEARS``,
    ``schema.sql:111-117``). ``spark.range`` is a parallel generator,
    no driver list."""
    return spark.range(YEARS.start, YEARS.stop).select(
        F.col("id").cast("int").alias("year_id")
    )


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSON-lines scan with an explicit schema (no inference pass — at
    100 TB schema inference is a full extra read) and the microsecond
    timestamp format write_jsonl pins. Malformed lines null out per
    ANSI-safe JSON parsing rather than failing the scan."""
    from ..sinks.writers import JSONL_TS_FORMAT

    return (
        spark.read.schema(schema)
        .option("timestampFormat", JSONL_TS_FORMAT)
        .json(path)
    )


def synthetic_dim(
    spark: SparkSession, n_rows: int, seed: str = "synth0"
) -> DataFrame:
    """Deterministic synthetic dimension generator at scale — the
    fixture/benchmark data source when real data can't leave its
    enclave: ``spark.range`` (parallel, executor-side, no driver
    list) + md5-derived attributes, so the SAME rows materialize on
    any engine, any partitioning, any run (the md5-bucket primitive
    the samplers use, applied generatively). The S7 year seed above
    is the trivial form; this is the general one.

    Columns: ``sku_id``, ``category`` (8 classes), ``price_cents``
    (100..99999+100), ``in_stock`` (~80% true).
    """
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(seed), F.col("id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return (
        spark.range(n_rows)
        .select(F.col("id").alias("sku_id"), h.alias("__h"))
        .select(
            "sku_id",
            F.concat(F.lit("cat_"), (F.col("__h") % 8).cast("string")).alias(
                "category"
            ),
            (F.lit(100) + F.expr("(__h div 8) % 99900")).cast("long").alias(
                "price_cents"
            ),
            (F.expr("(__h div 16) % 5") > 0).alias("in_stock"),
        )
    )
