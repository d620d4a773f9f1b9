"""Custom Python DataSource (Spark 4 API): distributed paginated REST.

`sources/api.py` reproduces the reference's DRIVER-side ingest loop
(one GET per year on the driver, crime_immigration_etl.py:88-132) and
documents executor-side fetching as the scale path. This module IS
that scale path, using Spark 4's Python DataSource API
(`pyspark.sql.datasource`): every page/year URL becomes an
`InputPartition`, so fetches run ON EXECUTORS, in parallel, with
retry/locality handled by the scheduler — the right shape when the
URL list is thousands of shards, not five years.

Usage:

    spark.dataSource.register(PaginatedRestDataSource)
    df = (spark.read.format("paginated_rest")
          .schema("indicator string, value double, year_id int")
          .option("url_template", "https://api.example/{year}?fmt=json")
          .option("years", "2018,2019,2020,2021,2022")
          .option("fetcher", "mypkg.http:get_json")   # executor-side import
          .load())

Fetchers (the network edge is injected, same philosophy as api.py):

* ``module.path:callable`` — imported ON THE EXECUTOR, called with the
  URL, must return the World Bank ``[metadata, rows]`` envelope.
* ``synthetic:<n>`` — built-in deterministic fake producing ``n`` rows
  per page from the URL alone (hermetic tests, demos, load-shape
  rehearsal without a network).

Rows in each envelope are projected to the user-declared schema by
field name (missing keys → NULL), exactly like api.py's driver path.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from ..streaming import drain
from .api import parse_envelope


class PageInputPartition(InputPartition):
    def __init__(self, url: str, ordinal: int):
        self.url = url
        self.ordinal = ordinal


def _resolve_fetcher(spec: str):
    """Executor-side fetcher resolution (see module docstring)."""
    if spec.startswith("synthetic:"):
        n = int(spec.split(":", 1)[1])

        def synthetic(url: str):
            # deterministic: row values derived from the url text only
            tag = url.rsplit("/", 1)[-1].split("?", 1)[0]
            rows = [
                {"indicator": f"{tag}-r{i}", "value": float(i * len(url) % 97)}
                for i in range(n)
            ]
            return [{"page": 1}, rows]

        return synthetic
    mod, _, fn = spec.partition(":")
    if not fn:
        raise ValueError(
            f"fetcher must be 'module.path:callable' or 'synthetic:<n>', got {spec!r}"
        )
    import importlib

    return getattr(importlib.import_module(mod), fn)


class PaginatedRestReader(DataSourceReader):
    def __init__(self, schema, options):
        self.schema = schema
        self.url_template = options["url_template"]
        self.fetcher_spec = options.get("fetcher", "synthetic:10")
        years = options.get("years", "")
        pages = options.get("pages", "")
        if years:
            self.urls = [
                (self.url_template.format(year=int(y)), int(y))
                for y in years.split(",")
            ]
            self.inject_year = True
        elif pages:
            self.urls = [
                (self.url_template.format(page=int(p)), int(p))
                for p in pages.split(",")
            ]
            self.inject_year = False
        else:
            raise ValueError("provide 'years' or 'pages' as a comma list")

    def partitions(self):
        return [PageInputPartition(url, ord_) for url, ord_ in self.urls]

    def read(self, partition: PageInputPartition) -> Iterator[tuple]:
        fetch = _resolve_fetcher(self.fetcher_spec)
        rows = parse_envelope(fetch(partition.url))
        names = [f.name for f in self.schema.fields]
        for r in rows:
            r = dict(r)
            if self.inject_year and "year_id" in names:
                r["year_id"] = partition.ordinal
            yield tuple(r.get(k) for k in names)


class RestPollStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch REST polling (the STREAMING shape of the same
    ingest): the offset is a page cursor ``{"page": N}``; each batch
    fetches up to ``pages_per_batch`` pages and advances the cursor,
    and an exhausted cursor (past ``last_page``) yields empty batches
    without advancing, so ``processAllAvailable`` terminates.
    ``readBetweenOffsets`` re-fetches a committed page range verbatim —
    the replay path Spark drives on recovery, which is deterministic
    here because a page's content is a pure function of its URL."""

    def __init__(self, schema, options):
        self.schema = schema
        self.url_template = options["url_template"]
        self.fetcher_spec = options.get("fetcher", "synthetic:10")
        self.first = int(options.get("first_page", "1"))
        self.last = int(options["last_page"])
        self.per_batch = int(options.get("pages_per_batch", "1"))

    def initialOffset(self) -> dict:
        return {"page": self.first}

    def read(self, start: dict):
        lo = int(start["page"])
        hi = min(lo + self.per_batch, self.last + 1)
        if hi <= lo:  # exhausted: empty batch, cursor stays put
            return iter([]), {"page": lo}
        # iter(list), not a generator: the prefetching wrapper pickles
        # the batch into the checkpoint for replay-on-recovery, and a
        # list_iterator is both an iterator and picklable
        return iter(self._fetch_range(lo, hi)), {"page": hi}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        return iter(self._fetch_range(int(start["page"]), int(end["page"])))

    def _fetch_range(self, lo: int, hi: int) -> list[tuple]:
        fetch = _resolve_fetcher(self.fetcher_spec)
        names = [f.name for f in self.schema.fields]
        out: list[tuple] = []
        for page in range(lo, hi):
            rows = parse_envelope(fetch(self.url_template.format(page=page)))
            for r in rows:
                r = dict(r)
                if "page_id" in names:
                    r["page_id"] = page
                out.append(tuple(r.get(k) for k in names))
        return out


class PaginatedRestDataSource(DataSource):
    """format("paginated_rest") — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "paginated_rest"

    def reader(self, schema) -> PaginatedRestReader:
        return PaginatedRestReader(schema, self.options)

    def simpleStreamReader(self, schema) -> RestPollStreamReader:
        return RestPollStreamReader(schema, self.options)


def run_rest_poll_stream(
    spark,
    url_template: str,
    schema: str,
    last_page: int,
    first_page: int = 1,
    pages_per_batch: int = 1,
    fetcher: str = "synthetic:10",
    query_name: str = "rest_poll_stream",
):
    """Drive the REST-poll stream to exhaustion into a memory sink
    (append mode — every fetched row lands exactly once; duplicates
    from a replayed batch would double-count and fail the oracle).
    Synchronous (``streaming.drain``). Returns the raw rows."""
    spark.dataSource.register(PaginatedRestDataSource)
    stream = (
        spark.readStream.format("paginated_rest")
        .schema(schema)
        .option("url_template", url_template)
        .option("first_page", str(first_page))
        .option("last_page", str(last_page))
        .option("pages_per_batch", str(pages_per_batch))
        .option("fetcher", fetcher)
        .load()
    )
    drain(
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
    )
    return spark.sql(f"SELECT * FROM {query_name}")
