"""Sinks (SURVEY.md §2.2, K1-K6).

The reference loads Postgres with batched inserts + per-table
commit/rollback (``crime_immigration_etl.py:314-382``) and exports query
results to CSV for the viz layer (``map-making/create-files.py``).
Spark-side:

- warehouse-native: parquet snapshots (job-atomic via the file-commit
  protocol — the engine's K3 "rollback" equivalent: a failed write
  leaves no visible output);
- viz egress: single-file CSV (coalesce(1) — driver-bound by design,
  viz outputs are small by contract);
- relational: ``df.write.jdbc`` with batchsize (K1's page_size analog);
  exercised LIVE against embedded Apache Derby (ships in Spark's
  jars/) by queries.jdbc_roundtrip_report — write, read back, verify.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet_snapshot(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """K6 — warehouse snapshot. Partition by the query-pruning key at
    scale (e.g. year_id) so readers skip irrelevant files."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_orc_snapshot(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """K6 twin in ORC — for consumers whose warehouse reads ORC.
    Same partition-pruning contract as the parquet snapshot."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def write_viz_csv(df: DataFrame, path: str) -> None:
    """K5 — query-results-to-CSV egress for the map layer
    (map-making/data.csv shape). coalesce(1): one output file; only for
    small, final, human-facing outputs — never mid-pipeline."""
    df.coalesce(1).write.mode("overwrite").csv(path, header=True)


def jdbc_writer(
    df: DataFrame,
    url: str,
    table: str,
    batchsize: int = 1000,
    mode: str = "append",
    properties: dict[str, str] | None = None,
):
    """K1 — batched relational sink (execute_values page_size=1000,
    etl:321 → JDBC ``batchsize``). Returns the configured writer;
    caller invokes ``.save()`` where a JDBC driver jar is present."""
    props = {"batchsize": str(batchsize), **(properties or {})}
    return (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .options(**props)
        .mode(mode)
    )


# Microsecond-precision ISO-8601 for JSON-lines interchange. Spark's
# default JSON timestamp format carries only milliseconds — silently
# truncating the micros the events table actually has — so both the
# writer and the reader pin this format explicitly.
JSONL_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSON-lines egress (the interchange format of every annotation /
    labeling pipeline): one JSON object per row, microsecond-faithful
    timestamps. Splittable on read like any line format."""
    (
        df.write.mode("overwrite")
        .option("timestampFormat", JSONL_TS_FORMAT)
        .json(path)
    )


class SwapDialect:
    """Vendor-specific SQL emission for the stage-then-swap path
    (jdbc_atomic_append). The statement is ANSI at heart; what varies
    across engines is the identifier QUOTE character and doubling rule
    — `\"` for Derby/H2/HSQLDB/Postgres, backtick for MySQL — and
    that is exactly where a hand-inlined f-string would silently break
    on the next target. Only Derby ships in this container, so the
    other dialects are pinned by generated-SQL tests rather than live
    runs; the live Derby matrix exercises the protocol itself."""

    def __init__(self, name: str, quote: str = '"'):
        self.name = name
        self.quote = quote

    def q(self, ident: str) -> str:
        return (
            self.quote
            + ident.replace(self.quote, self.quote * 2)
            + self.quote
        )

    def insert_select(
        self, target: str, tcols: list[str], staging: str,
        scols: list[str],
    ) -> str:
        # Target columns UNQUOTED (match an unquoted-DDL target whose
        # identifiers the engine case-folded); staging columns QUOTED
        # (Spark's JDBC writer quotes them at CREATE, preserving case).
        t = ", ".join(tcols)
        s = ", ".join(self.q(c) for c in scols)
        return f"INSERT INTO {target} ({t}) SELECT {s} FROM {staging}"

    def drop_staging(self, staging: str) -> str:
        return f"DROP TABLE {staging}"


SWAP_DIALECTS: dict[str, SwapDialect] = {
    "derby": SwapDialect("derby"),
    "h2": SwapDialect("h2"),
    "hsqldb": SwapDialect("hsqldb"),
    "postgresql": SwapDialect("postgresql"),
    "mysql": SwapDialect("mysql", quote="`"),
}


def swap_dialect_for_url(url: str) -> SwapDialect:
    """Resolve the swap dialect from a ``jdbc:<vendor>:...`` URL;
    unknown vendors get the ANSI double-quote default (correct for
    every mainstream engine except MySQL, which is mapped)."""
    vendor = ""
    if url.startswith("jdbc:"):
        vendor = url.split(":", 2)[1].lower()
    return SWAP_DIALECTS.get(vendor, SwapDialect(vendor or "ansi"))


def jdbc_atomic_append(
    df: DataFrame,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
) -> int:
    """K3 — per-table commit/rollback against a LIVE database.

    The reference wraps each table's load in one transaction and rolls
    the whole table back on any error (``crime_immigration_etl.py:
    322-331``). Plain ``df.write.jdbc(mode="append")`` cannot promise
    that: each partition task commits its own transaction, so a
    mid-load failure leaves the partitions that already committed.
    The warehouse-correct shape is STAGE-THEN-SWAP:

    1. executors bulk-load a staging table ``{table}_STG`` (parallel,
       batched — the K1 path; a failure here never touched the
       target), then
    2. the driver runs ONE transactional ``INSERT INTO target
       SELECT * FROM staging`` inside the database — constraint
       violations roll back the entire statement, so the target is
       all-or-nothing exactly like the reference's per-table commit.

    Driver involvement is DDL/DML orchestration only — no data flows
    through it (the INSERT..SELECT executes inside the DB engine), so
    the pattern holds at any scale the database itself can load.
    Returns the number of rows swapped in. The staging table is
    dropped on both success and failure.

    The INSERT names the DataFrame's columns explicitly, so targets
    with database-generated columns (SERIAL / GENERATED IDENTITY
    surrogate keys, schema.sql:38,62,85) fill them automatically.
    Identifier-case note: Spark's JDBC writer QUOTES column names when
    creating the staging table (case preserved), while a DDL-created
    target folds unquoted identifiers — so the SELECT side quotes the
    DataFrame's column names verbatim and the INSERT side leaves them
    unquoted to match an unquoted-DDL target.
    """
    stg = f"{table}_STG"
    dia = swap_dialect_for_url(url)
    jdbc_writer(df, url, stg, mode="overwrite", properties=properties).save()
    swap_sql = dia.insert_select(table, df.columns, stg, df.columns)
    jvm = df.sparkSession._jvm
    # The swap connection must authenticate exactly like the staging
    # bulk-load did: build java.util.Properties from the same dict
    # (user/password/any vendor options) and load the driver class if
    # one was named — mirroring Spark's own JDBC writer. A bare
    # getConnection(url) only works for embedded/driverless URLs like
    # Derby and would fail the swap AFTER the staging load succeeded
    # on any authenticated target.
    jprops = jvm.java.util.Properties()
    for k, v in (properties or {}).items():
        if k == "driver":
            jvm.java.lang.Class.forName(v)
        else:
            jprops.setProperty(k, v)
    conn = jvm.java.sql.DriverManager.getConnection(url, jprops)
    try:
        conn.setAutoCommit(False)
        st = conn.createStatement()
        try:
            n = st.executeUpdate(swap_sql)
            conn.commit()
            return n
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.setAutoCommit(True)
            try:
                st.execute(dia.drop_staging(stg))
            except Exception:
                pass
            st.close()
    finally:
        conn.close()
