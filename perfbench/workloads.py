"""The two benchmark workloads.

Each workload is driven closed-loop by one client: the next operation
starts when the previous one returns. A *round* is the workload's fixed
operation sequence; a run times a fixed number of rounds, set from
``--seconds`` and the workload's nominal round time (``round_s``).
Each operation is timed in wall seconds and in CPU seconds of the
process tree.

* ``star_etl``      one op = one round = one delta pass of the reference
                    pipeline (ingest three sources -> star transform ->
                    validate -> versioned upsert per table -> vacuum ->
                    viz CSV egress) loading the next overlapping batch;
                    the initial load of batch 0 is setup's warmup.
* ``analytics_mix`` one op = one registry query forced with the noop
                    sink; one round = every query once, seeded order.

Correctness is checked outside the timed regions: every mix query's
first result is compared with its DuckDB oracle, and every pipeline pass
with the generator's expected counts.
"""

from __future__ import annotations

import glob
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import datagen
import oracle
from spans import Tracer, tree_cpu_s

ANALYTICS = [
    "pricing_summary", "flagship_nation_year_rate", "validated_m2o_join",
    "region_revenue", "shipping_priority", "small_quantity_orders",
    "rollup_region_nation", "keyed_dedup_first_wins", "events_hourly",
    "sessionize_events", "upsert_conflict_ignore", "cube_status_priority",
    "top_k_orders", "window_running_total", "fk_and_null_audit",
    "lookup_join_fallback", "semi_join_active_customers", "viz_hover_points",
    "deterministic_slice",
]


@dataclass
class Tally:
    """Operations attempted / failed, with the reason for each failure."""

    attempted: int = 0
    failed: int = 0
    reasons: list[str] = field(default_factory=list)

    def record(self, label: str, reason: str | None) -> None:
        self.attempted += 1
        if reason is not None:
            self.failed += 1
            self.reasons.append(f"{label}: {reason}")


def _error(exc: BaseException) -> str:
    """One-line failure reason; the full traceback goes to stderr."""
    traceback.print_exception(exc, file=sys.stderr)
    return f"{type(exc).__name__}: {str(exc).splitlines()[0] if str(exc) else ''}"


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# query mix
# ---------------------------------------------------------------------------


class QueryMix:
    """A seeded, shuffled, repeated sequence of oracle-checked registry
    queries over generated TPC-H-ish tables. ``round_s`` is the nominal
    time of one round on 4 cores, which sets the rounds per run."""

    def __init__(self, name: str, queries: list[str], sf: float, round_s: float):
        self.name = name
        self.queries = queries
        self.sf = sf
        self.round_s = round_s

    def prepare(self, work: str, seed: int) -> None:
        self.data_dir = os.path.join(work, "tables")
        self.input_rows = sum(datagen.write_tables(self.data_dir, seed, self.sf).values())

    def setup(self, spark) -> None:
        """Registry import plus one warmup query (part of setup_s)."""
        from data_integration_and_visualization_uc3m_spark import queries as Q

        self.fns = Q.all_queries()
        self.oracles = Q.all_oracles()
        force(self.fns[self.queries[0]](spark, self.data_dir))

    def check(self, spark, tally: Tally, corrupt: bool) -> None:
        """First result of every query against its DuckDB oracle, then one
        untimed round into the noop sink, so timed rounds start with every
        plan compiled for the sink they use. With ``corrupt`` the first
        query's result loses a row, which must be reported as a failure."""
        con = oracle.connect(self.data_dir)
        for i, name in enumerate(self.queries):
            try:
                df = self.fns[name](spark, self.data_dir)
                rows = df.collect()
                if corrupt and i == 0:
                    rows = rows[:-1]
                reason = oracle.mismatch(df.columns, rows, con, self.oracles[name])
            except Exception as exc:  # an engine error is a failed operation
                reason = _error(exc)
            tally.record(f"check {name}", reason)
        con.close()
        for name in self.queries:
            try:
                force(self.fns[name](spark, self.data_dir))
                reason = None
            except Exception as exc:
                reason = _error(exc)
            tally.record(f"warmup {name}", reason)

    def round(self, spark, tracer, rng, tally: Tally) -> list[tuple[str, float, float]]:
        ops = []
        for name in rng.permutation(self.queries):
            name = str(name)
            tracer.set_op(tally.attempted)
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            try:
                with tracer.span("op", query=name):
                    with tracer.span("queries.plan", query=name):
                        df = self.fns[name](spark, self.data_dir)
                    with tracer.span("queries.exec", query=name):
                        force(df)
                reason = None
            except Exception as exc:
                reason = _error(exc)
            ops.append((name, time.perf_counter() - t0, tree_cpu_s() - c0))
            tally.record(name, reason)
        return ops


# ---------------------------------------------------------------------------
# star-schema pipeline
# ---------------------------------------------------------------------------

# order_by makes every first-wins pick deterministic
_ORDER_BY = {
    "country": ["country_name"],
    "year": None,
    "population": ["population"],
    "crime": ["convicts_per_100000"],
    "immigration": ["immigration_per_100000"],
}


class StarEtl:
    """The reference star-schema pipeline over seeded World Bank /
    UN crime XLSX / Eurostat CSV inputs. Setup's warmup operation is the
    initial load of batch 0 into an empty versioned parquet warehouse;
    every timed operation then loads the next overlapping delta batch."""

    name = "star_etl"
    round_s = 20.0  # nominal seconds per delta pass on 4 cores

    def __init__(self, batch_size: int = 120, stride: int = 40, breakdowns: int = 24):
        self.shape = dict(batch_size=batch_size, stride=stride, breakdowns=breakdowns)

    def prepare(self, work: str, seed: int) -> None:
        from data_integration_and_visualization_uc3m_spark.functions import iso3166
        from data_integration_and_visualization_uc3m_spark.sources.xlsx import write_xlsx

        countries = [(a2, a3, name) for a2, a3, name, _ in iso3166.COUNTRIES]
        self.source = datagen.StarSource(
            os.path.join(work, "sources"), seed, countries, write_xlsx, **self.shape
        )
        self.root = os.path.join(work, "warehouse")
        self.input_rows = self.source.batch(1).raw_rows  # one delta pass
        self.next_batch = 1

    def new_rows(self, k: int) -> int:
        """Rows batch ``k`` adds to the warehouse (all tables)."""
        before = self.source.expected(k - 1) if k else {}
        return sum(n - before.get(t, 0) for t, n in self.source.expected(k).items())

    def setup(self, spark) -> None:
        """Pipeline imports plus the initial load (part of setup_s)."""
        from pyspark.sql import types as T

        from data_integration_and_visualization_uc3m_spark import schemas
        from data_integration_and_visualization_uc3m_spark.operators import upsert
        from data_integration_and_visualization_uc3m_spark.plans import star
        from data_integration_and_visualization_uc3m_spark.sinks import writers
        from data_integration_and_visualization_uc3m_spark.sources import api, readers, xlsx

        self.schemas, self.upsert, self.star = schemas, upsert, star
        self.writers, self.api, self.readers, self.xlsx = writers, api, readers, xlsx
        self.csv_schema = T.StructType([
            T.StructField(c, T.IntegerType() if c == "TIME_PERIOD" else T.StringType())
            for c in datagen.EUROSTAT_COLUMNS
        ])
        self.initial_tables = self.run_pass(spark, Tracer(None, enabled=False),
                                            self.source.batch(0), self.root)

    # -- one pass -----------------------------------------------------------

    def run_pass(self, spark, tracer, batch: datagen.StarBatch, root: str) -> dict:
        S, star, upsert = self.schemas, self.star, self.upsert
        with tracer.span("sources.ingest_api"):
            _, aggregates = self.api.ingest_country_metadata(
                spark, batch.fetch, datagen.METADATA_URL)
            raw_pop = self.api.ingest_indicator_per_year(
                spark, batch.fetch, datagen.POP_URL, datagen.POP_YEARS)
        with tracer.span("sources.read_xlsx"):
            raw_crime = self.xlsx.read_xlsx(spark, batch.xlsx_path, header_row=2,
                                            schema=S.RAW_CRIME)
        with tracer.span("sources.read_csv"):
            raw_immig = self.readers.read_csv(spark, self.source.csv_path, self.csv_schema)
        with tracer.span("plans.transform"):
            country, population = star.transform_country_and_population(raw_pop, aggregates)
            immigration = upsert.dedup_batch_first_wins(
                star.transform_immigration(
                    raw_immig.select(*S.RAW_IMMIGRATION_CONSUMED), population,
                    star.iso2_lookup(spark)),
                keys=S.NATURAL_KEYS["immigration"],
                order_by=_ORDER_BY["immigration"],
            )
            tables = {
                "country": country,
                "year": self.readers.year_dim(spark),
                "population": population,
                "crime": star.transform_crime(raw_crime),
                "immigration": immigration,
            }
        with tracer.span("plans.validate_star"):
            report = star.validate_star(tables)
        with tracer.span("operators.upsert.write"):
            for name in S.LOAD_ORDER:
                upsert.write_upsert_parquet(os.path.join(root, name), tables[name],
                                            S.NATURAL_KEYS[name], _ORDER_BY[name])
        with tracer.span("operators.upsert.vacuum"):
            for name in S.LOAD_ORDER:
                upsert.vacuum(os.path.join(root, name))
        with tracer.span("sinks.write_viz_csv"):
            self.writers.write_viz_csv(self._viz(spark, root), os.path.join(root, "viz_csv"))
        self.last_report = report
        return tables

    def _viz(self, spark, root: str):
        """The map egress: one point per country from the live warehouse."""
        from pyspark.sql import functions as F

        def live(name):
            return self.upsert.read_upsert_parquet(spark, os.path.join(root, name))

        return (
            live("immigration")
            .join(live("crime"), ["country_iso3_id", "year_id"])
            .join(live("country"), "country_iso3_id")
            .groupBy("country_iso3_id", "country_name")
            .agg(
                F.avg("immigration_per_100000").cast("decimal(10,2)").alias("immigration"),
                F.avg("convicts_per_100000").cast("decimal(10,2)").alias("crime"),
            )
            .select(
                F.col("country_name").alias("name"), "immigration", "crime",
                F.concat(F.col("country_name"), F.lit("<br>Immigration "),
                         F.col("immigration").cast("string"), F.lit(" Crime "),
                         F.col("crime").cast("string")).alias("text"),
            )
        )

    # -- checks (untimed) ---------------------------------------------------

    def _counts(self, spark, root: str) -> dict[str, int]:
        return {
            name: self.upsert.read_upsert_parquet(spark, os.path.join(root, name)).count()
            for name in self.schemas.LOAD_ORDER
        }

    @staticmethod
    def _viz_rows(root: str) -> int:
        n = 0
        for part in glob.glob(os.path.join(root, "viz_csv", "part-*.csv")):
            with open(part) as fh:
                n += sum(1 for _ in fh) - 1  # header
        return n

    def verify(self, spark, root: str, upto: int) -> str | None:
        """Validation all zero, warehouse counts and viz points equal to
        the generator's expectation after batches ``0..upto``."""
        bad = {k: v for k, v in self.last_report.items() if v}
        if bad:
            return f"validate_star violations {bad}"
        want, got = self.source.expected(upto), self._counts(spark, root)
        if got != want:
            return f"warehouse counts {got} != expected {want}"
        want_viz, got_viz = self.source.expected_viz_rows(upto), self._viz_rows(root)
        if got_viz != want_viz:
            return f"viz rows {got_viz} != expected {want_viz}"
        return None

    def check(self, spark, tally: Tally, corrupt: bool) -> None:
        """The initial load's outputs, then idempotency: re-committing the
        same batch must leave every table's count unchanged. With
        ``corrupt`` the viz CSV loses a row, which must be reported."""
        if corrupt:
            part = glob.glob(os.path.join(self.root, "viz_csv", "part-*.csv"))[0]
            with open(part) as fh:
                lines = fh.readlines()
            with open(part, "w") as fh:
                fh.writelines(lines[:-1])
        reason = self.verify(spark, self.root, 0)
        tally.record("check initial load", reason)
        try:
            before = self.source.expected(0) if reason is None else self._counts(spark, self.root)
            for name in self.schemas.LOAD_ORDER:
                self.upsert.write_upsert_parquet(
                    os.path.join(self.root, name), self.initial_tables[name],
                    self.schemas.NATURAL_KEYS[name], _ORDER_BY[name])
            after = self._counts(spark, self.root)
            reason = None if after == before else f"re-run changed counts {before} -> {after}"
        except Exception as exc:
            reason = _error(exc)
        tally.record("check idempotent re-run", reason)

    # -- timed round: one delta pass -------------------------------------------

    def round(self, spark, tracer, rng, tally: Tally) -> list[tuple[str, float, float]]:
        k = self.next_batch
        self.next_batch += 1
        batch = self.source.batch(k)  # generated outside the timed region
        tracer.set_op(tally.attempted)
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with tracer.span("op", batch=k):
                self.run_pass(spark, tracer, batch, self.root)
            reason = None
        except Exception as exc:
            reason = _error(exc)
        elapsed = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
        if reason is None:
            try:
                reason = self.verify(spark, self.root, k)
            except Exception as exc:
                reason = _error(exc)
        tally.record(f"delta_{k}", reason)
        return [("delta", elapsed, cpu)]


def make(name: str, tiny: bool):
    """Workload by name; ``tiny`` selects the self-test sizes."""
    if name == "star_etl":
        return StarEtl(batch_size=30, stride=10, breakdowns=2) if tiny else StarEtl()
    if name == "analytics_mix":
        return QueryMix(name, ANALYTICS, sf=0.001 if tiny else 0.01, round_s=7.0)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ["star_etl", "analytics_mix"]
