"""Zero-extra-scan pipeline telemetry via ``DataFrame.observe``.

The validation operators in :mod:`.validate` (V1-V5) each return a
violation relation — the right shape for auditing, but each one is its
own scan/aggregation. In a production load at 100 TB you want the
basic quality counters (row count, null counts, range breaches,
min/max watermarks) collected **during the load action itself**, not
as a second pass over the data. Spark's observed-metrics API does
exactly that: ``df.observe(Observation, *aggs)`` attaches accumulator-
backed aggregate expressions to the plan, the metrics materialize as a
side effect of whatever action executes the plan (a sink write, a
count), and the scan happens ONCE.

Semantics worth knowing (pinned by tests):

- Observed aggregates run over exactly the rows that FLOW THROUGH the
  observe node — filters applied upstream of ``observe`` are excluded,
  filters applied downstream are included in the flow but not in the
  metrics. Place the observe node to match the question being asked.
- Only one action may consume an ``Observation``; re-running the plan
  needs a fresh one (``observed_quality`` mints one per call).
- Metrics cost no extra shuffle: they piggyback on the existing
  stages as partial aggregates merged on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

#: reference parity: the counters mirror the reference's post-load
#: sanity checks (crime_immigration_etl.py:314-380 checks row counts
#: and null keys after INSERT) — here they ride along with the load.


def quality_metrics(
    df: DataFrame,
    not_null_cols: list[str] = (),
    range_checks: dict[str, tuple[float, float]] | None = None,
) -> list[F.Column]:
    """The standard quality counter set as aggregate expressions:
    total rows, per-column null counts, per-column out-of-range counts.
    All integer counters — deterministic regardless of partitioning."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in not_null_cols:
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"n_null_{c}")
        )
    for c, (lo, hi) in (range_checks or {}).items():
        breach = ~F.col(c).between(lo, hi) | F.col(c).isNull()
        aggs.append(F.sum(breach.cast("long")).alias(f"n_out_of_range_{c}"))
    return aggs


def observed_quality(
    df: DataFrame,
    not_null_cols: list[str] = (),
    range_checks: dict[str, tuple[float, float]] | None = None,
    name: str = "quality",
) -> tuple[DataFrame, Observation]:
    """Attach the quality counters to ``df``'s plan. Returns the
    instrumented frame (same rows/schema) and the Observation whose
    ``.get`` yields the metrics dict after the NEXT action on the
    frame. No extra scan, no extra shuffle."""
    obs = Observation(name)
    return (
        df.observe(obs, *quality_metrics(df, not_null_cols, range_checks)),
        obs,
    )


def load_with_metrics(
    df: DataFrame,
    path: str,
    not_null_cols: list[str] = (),
    range_checks: dict[str, tuple[float, float]] | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> dict:
    """The production load shape: write the frame to its sink and
    return the quality counters observed during that same write — one
    scan total. The caller decides whether a non-zero violation
    counter invalidates the load (the K3 job-atomic file commit means
    an abort-on-violation can simply not publish the output, as
    ``plans.star.run_pass`` does with its staged snapshots)."""
    instrumented, obs = observed_quality(df, not_null_cols, range_checks)
    instrumented.write.format(fmt).mode(mode).save(path)
    return dict(obs.get)
