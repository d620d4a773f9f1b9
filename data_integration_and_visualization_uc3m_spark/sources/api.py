"""Paginated REST-API ingest (SURVEY.md §2.1, S1-S3).

The reference fetches World Bank JSON on the driver, one GET per year
with a ``[metadata, rows]`` envelope (``crime_immigration_etl.py:88-132``),
and resets EVERYTHING on any request failure (:128-130) — all-or-nothing
ingest, reproduced here.

Network access is injected (``fetch`` callable) so tests run hermetic
and prod swaps in requests/httpx. Scale path: for a URL *list* that is
itself large, distribute with ``mapPartitions`` HTTP over a partitioned
URL DataFrame — kept here as the documented escalation, not the default
(the reference's 5 URLs don't justify executor-side HTTP).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import RAW_POPULATION
from .readers import local_frame


class IngestError(RuntimeError):
    """Raised by fetchers on transport failure (requests.RequestException
    analogue — the engine stays dependency-free)."""


def parse_envelope(payload) -> list[dict]:
    """World Bank envelope: ``[metadata, rows]`` (etl:93-95,113-115).
    Returns the rows list; empty/None-safe."""
    if not isinstance(payload, (list, tuple)) or len(payload) < 2:
        return []
    rows = payload[1]
    return list(rows) if rows else []


def fetch_paginated(
    fetch: Callable[[str], object],
    url_template: str,
    pages: Iterable[int],
    page_param: str = "page",
) -> list[dict]:
    """S1 — generic page loop: GET page 1..n until an empty page.
    The reference sidesteps pagination with per_page=2000 (etl:108);
    this generalizes it for sources that actually paginate."""
    out: list[dict] = []
    for p in pages:
        rows = parse_envelope(fetch(url_template.format(**{page_param: p})))
        if not rows:
            break
        out.extend(rows)
    return out


def ingest_indicator_per_year(
    spark: SparkSession,
    fetch: Callable[[str], object],
    url_template: str,
    years: Iterable[int],
) -> DataFrame:
    """S2/S3 — per-year indicator scan with literal year injection and
    all-or-nothing error absorption.

    For each year: GET, parse envelope, inject ``year_id`` (etl:119-121).
    On ANY failure: log-and-return-empty with the declared schema
    (etl:128-130) — not partial data, matching the reference contract
    (SURVEY §7.4.7).
    """
    all_rows: list[dict] = []
    try:
        for year in years:
            rows = parse_envelope(fetch(url_template.format(year=year)))
            for r in rows:
                r = dict(r)
                r["year_id"] = year
                all_rows.append(r)
    except IngestError:
        all_rows = []
    # local_frame projects to the declared fields (sources carry extras)
    return local_frame(spark, all_rows, RAW_POPULATION)


def ingest_country_metadata(
    spark: SparkSession,
    fetch: Callable[[str], object],
    url: str,
) -> tuple[DataFrame, DataFrame]:
    """S1 — country metadata scan; also derives the data-driven
    aggregate-code exclusion table (etl:90-102): codes whose
    ``region.value`` is "Aggregates" are pseudo-countries.

    Returns (countries_df, aggregate_codes_df) — the exclusion list is a
    TABLE, not a literal (SURVEY §7.4.8).
    """
    rows = parse_envelope(fetch(url))
    schema = T.StructType(
        [
            T.StructField("id", T.StringType(), True),
            T.StructField("name", T.StringType(), True),
            T.StructField(
                "region",
                T.StructType(
                    [
                        T.StructField("id", T.StringType(), True),
                        T.StructField("value", T.StringType(), True),
                    ]
                ),
                True,
            ),
        ]
    )
    countries = local_frame(spark, rows, schema)
    aggregates = (
        countries.filter(F.col("region.value") == "Aggregates")
        .select(F.col("id").alias("code"))
        .distinct()
    )
    return countries, aggregates


def retry(fn: Callable, retries: int = 5, delay_s: float = 3.0, sleep=None):
    """V6 — retry-with-backoff wrapper (get_db_connection, etl:58-85:
    5 attempts × 3 s). ``sleep`` injectable for tests."""
    import time as _time

    sleep = sleep or _time.sleep
    last: Exception | None = None
    for attempt in range(retries):
        try:
            return fn()
        except Exception as ex:  # noqa: BLE001 — mirror reference breadth
            last = ex
            if attempt < retries - 1:
                sleep(delay_s)
    raise IngestError(f"failed after {retries} attempts") from last


def http_fetch(url: str, timeout_s: float = 30.0):
    """Production fetch callable on the stdlib only: GET → parsed JSON,
    any transport/HTTP/parse failure normalized to IngestError so the
    all-or-nothing contract of ingest_indicator_per_year holds
    unchanged. Swap in requests/httpx freely — the contract is just
    ``url -> parsed JSON | raise IngestError``. Driven against a LIVE
    local HTTP server in tests/test_api_live.py."""
    import json as _json
    import urllib.error
    import urllib.request

    try:
        with urllib.request.urlopen(url, timeout=timeout_s) as resp:
            if resp.status != 200:
                raise IngestError(f"HTTP {resp.status} for {url}")
            return _json.loads(resp.read().decode("utf-8"))
    except IngestError:
        raise
    except (urllib.error.URLError, OSError, ValueError) as ex:
        raise IngestError(f"fetch failed for {url}: {ex}") from ex
