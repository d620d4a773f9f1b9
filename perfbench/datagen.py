"""Seeded input generators for the benchmark workloads.

Everything here is plain Python / numpy / pyarrow: the engine under test
never produces its own inputs, and the expected ``star_etl`` survivor
counts come from the generator's own bookkeeping, not from the engine.

* :func:`write_tables` writes the eight TPC-H-ish parquet tables the
  analytics queries read (``region nation customer supplier part orders
  lineitem events``) in the shape of the engine's reference test tables,
  scaled by ``sf``. ``perfbench/reference_check.py`` compares the
  queries' row counts and times on both.
* :class:`StarSource` writes the three reference-shaped raw sources of
  the star-schema pipeline (World Bank pages, UN crime workbook, Eurostat
  linear CSV) for a sequence of overlapping country batches, and records
  the keys each star table must end up with.
"""

from __future__ import annotations

import csv
import os
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# TPC-H-ish tables
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _pick(rng: np.random.Generator, options: list[str], n: int) -> np.ndarray:
    return np.asarray(options, dtype=object)[rng.integers(0, len(options), n)]


def _money(rng: np.random.Generator, low: float, high: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(low, high, n), 2)


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the eight analytics tables at scale factor ``sf`` (lineitem
    holds ``6e6 * sf`` rows). Returns the row count per table.

    The shape follows the reference test tables as measured at sf0.01 and
    sf0.1: every column is drawn independently and uniformly, so
    ``l_orderkey`` is uniform over the orders (about 2% of orders have no
    lines and ``(l_orderkey, l_linenumber)`` repeats), ``l_shipdate`` is
    uniform over 1995-01-02..2001-11-04 whatever the order date, order
    dates span 1995-01-01..2001-08-01, events span 30 days of 2024 with
    ``15_000 * sf`` users and exponential values of mean 50."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(150_000 * sf), 30)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 40)
    n_orders = max(int(1_500_000 * sf), 100)
    n_lines = 4 * n_orders
    n_events = max(int(1_000_000 * sf), 200)
    n_users = max(int(15_000 * sf), 10)
    i64, i32, f64, s = pa.int64(), pa.int32(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    rows = {}
    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS, s),
    })
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_cust), s),
    })
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64),
    })
    p_name = _pick(rng, ADJECTIVES, n_part) + " " + _pick(rng, NOUNS, n_part)
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(p_name, s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(_pick(rng, PART_TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(_money(rng, 900.0, 999.9, n_part), f64),
    })
    order_days = rng.integers(0, 2404, n_orders)
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), i64),
        "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n_orders), s),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_orders), f64),
        "o_orderdate": pa.array(_EPOCH_1995 + order_days * _DAY_US, ts),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n_orders), s),
    })
    ship_days = rng.integers(1, 2499, n_lines)
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_lines), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lines), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_lines).astype(float), f64),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_lines), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0, f64),
        "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n_lines), s),
        "l_linestatus": pa.array(_pick(rng, ["F", "O"], n_lines), s),
        "l_shipdate": pa.array(_EPOCH_1995 + ship_days * _DAY_US, ts),
    })
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    rows["events"] = _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events), i64),
        "ts": pa.array(_EPOCH_2024 + ev_us, ts),
        "user_id": pa.array(rng.integers(0, n_users, n_events), i64),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, n_events), s),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], s),
    })
    return rows


# ---------------------------------------------------------------------------
# star_etl raw sources
# ---------------------------------------------------------------------------

# Eurostat publishes Greece and the United Kingdom as EL / UK.
EUROSTAT_GEO = {"GR": "EL", "GB": "UK"}
WB_AGGREGATES = [("EUU", "European Union"), ("WLD", "World"), ("ARB", "Arab World")]
EUROSTAT_AGGREGATES = ["EU27_2020", "EA20", "EFTA"]
EUROSTAT_UNKNOWN = ["XK", "QQ", "ZZ"]
POP_YEARS = list(range(2016, 2023))
STAR_YEARS = list(range(2018, 2023))
FEED_YEARS = list(range(2012, 2023))
# the tps00176 linear layout; the pipeline consumes geo, TIME_PERIOD, OBS_VALUE
EUROSTAT_COLUMNS = [
    "STRUCTURE", "STRUCTURE_ID", "STRUCTURE_NAME", "freq", "Time frequency",
    "citizen", "Country of citizenship", "agedef", "Age definition", "age",
    "Age class", "unit", "Unit of measure", "sex_code", "Sex", "geo",
    "Geopolitical entity (reporting)", "TIME_PERIOD", "Time", "OBS_VALUE",
    "Observation value", "OBS_FLAG", "Observation status (Flag) V2 structure",
    "CONF_STATUS", "Confidentiality status (flag)",
]
CRIME_HEADER = [
    "Iso3_code", "Country", "Region", "Year", "Category", "Sex", "Age",
    "Indicator", "Unit of measurement", "VALUE",
]
_CRIME_OK = ["Total", "Total", "Total", "Persons convicted", "Rate per 100,000 population"]
# each variant fails exactly one predicate of the crime slice
_CRIME_JUNK = [
    ["Theft", "Total", "Total", "Persons convicted", "Rate per 100,000 population"],
    ["Total", "Male", "Total", "Persons convicted", "Rate per 100,000 population"],
    ["Total", "Total", "Adult", "Persons convicted", "Rate per 100,000 population"],
    ["Total", "Total", "Total", "Persons prosecuted", "Rate per 100,000 population"],
    ["Total", "Total", "Total", "Persons convicted", "Count"],
]
STAR_TABLES = ["country", "year", "population", "crime", "immigration"]
METADATA_URL = "https://api.worldbank.org/v2/country?format=json&per_page=400"
POP_URL = (
    "https://api.worldbank.org/v2/country/all/indicator/SP.POP.TOTL"
    "?date={year}&format=json&per_page=2000"
)


@dataclass
class StarBatch:
    """One delta batch: its World Bank pages, its crime workbook, the
    raw input row count of one pass, and the expected key set of every
    star table after this batch alone is transformed."""

    pages: dict[str, list]
    xlsx_path: str
    raw_rows: int
    keys: dict[str, set] = field(default_factory=dict)

    def fetch(self, url: str) -> list:
        """In-process stand-in for the HTTP GET (no network)."""
        return self.pages[url]


def _noisy_name(rng: np.random.Generator, name: str) -> str:
    """Mixed case and padding, which the transform normalizes away."""
    form = int(rng.integers(0, 3))
    return [name, f"  {name.upper()} ", f"{name.lower()}  "][form]


def _feed(
    path: str, rng: np.random.Generator, geos: list[tuple[str, str | None]],
    breakdowns: int,
) -> tuple[int, set]:
    """Write the Eurostat linear CSV. ``geos`` pairs each published geo
    code with the ISO3 it resolves to (None for aggregates and unknown
    codes). Returns the row count and the (iso3, year) keys that carry at
    least one usable value (a number or the ``:`` marker)."""
    valid: set = set()
    n = 0
    filler = ["DATAFLOW", "ESTAT:TPS00176(1.0)", "Immigration", "A", "Annual"]
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(EUROSTAT_COLUMNS)
        for geo, iso3 in geos:
            for year in FEED_YEARS:
                all_garbage = rng.random() < 0.03
                totals = rng.integers(100, 200_000, breakdowns)
                for b in range(breakdowns):
                    r = rng.random()
                    if all_garbage or r < 0.05:
                        obs = "n.a."
                    elif r < 0.12:
                        obs = ":"
                    else:
                        obs = str(int(totals[b]))
                    if obs != "n.a." and iso3 is not None:
                        valid.add((iso3, year))
                    w.writerow(filler + [
                        f"CIT{b % 4}", f"Citizenship group {b % 4}",
                        ("COMPLET", "REACH")[b % 2], "Age definition",
                        f"Y{b % 3}", f"Age class {b % 3}", "NR", "Number",
                        ("T", "M", "F")[b % 3], "Sex", geo, f"Entity {geo}",
                        year, str(year), obs, obs, "", "", "", "",
                    ])
                    n += 1
    return n, valid


class StarSource:
    """The star pipeline's raw sources for one seed.

    ``countries`` is the ISO universe as ``(alpha2, alpha3, name)``.
    The Eurostat feed is one CSV for the whole universe (it is republished
    in full), repeating each (geo, year) across ``breakdowns``
    citizen/age/sex/agedef combinations. :meth:`batch` ``k`` covers
    ``batch_size`` countries starting at ``k * stride`` of a seeded
    permutation, so consecutive batches share ``batch_size - stride``
    countries and every delta upsert meets both conflicting and new keys.
    Batches are generated on first use, each from its own seeded stream.
    ``write_xlsx(rows, path)`` writes the crime workbooks.
    """

    def __init__(
        self,
        out_dir: str,
        seed: int,
        countries: list[tuple[str, str, str]],
        write_xlsx: Callable[[list[list], str], None],
        batch_size: int = 120,
        stride: int = 40,
        breakdowns: int = 24,
    ):
        os.makedirs(out_dir, exist_ok=True)
        self.out_dir, self.seed, self.write_xlsx = out_dir, seed, write_xlsx
        self.batch_size, self.stride = batch_size, stride
        rng = np.random.default_rng([seed, 2])
        self.universe = [countries[i] for i in rng.permutation(len(countries))]
        self.pop = {
            (a3, y): int(rng.integers(100_000, 300_000_000))
            for _, a3, _ in self.universe
            for y in POP_YEARS
        }
        geos = [(EUROSTAT_GEO.get(a2, a2), a3) for a2, a3, _ in self.universe]
        geos += [(g, None) for g in EUROSTAT_AGGREGATES + EUROSTAT_UNKNOWN]
        self.csv_path = os.path.join(out_dir, "tps00176_linear.csv")
        self.csv_rows, self.feed_keys = _feed(self.csv_path, rng, geos, breakdowns)
        self._batches: dict[int, StarBatch] = {}

    def batch(self, k: int) -> StarBatch:
        if k not in self._batches:
            self._batches[k] = self._make_batch(k)
        return self._batches[k]

    def expected(self, upto: int) -> dict[str, int]:
        """Warehouse row counts after loading batches ``0..upto`` into an
        empty warehouse (ON CONFLICT DO NOTHING keeps the union of keys)."""
        return {
            t: len(set().union(*(self.batch(k).keys[t] for k in range(upto + 1))))
            for t in STAR_TABLES
        }

    def expected_viz_rows(self, upto: int) -> int:
        """Map points after batches ``0..upto``: countries with at least
        one (country, year) in both the immigration and the crime table."""
        imm = set().union(*(self.batch(k).keys["immigration"] for k in range(upto + 1)))
        crime = set().union(*(self.batch(k).keys["crime"] for k in range(upto + 1)))
        return len({c for c, _ in imm & crime})

    def _make_batch(self, k: int) -> StarBatch:
        rng = np.random.default_rng([self.seed, 3, k])
        n = len(self.universe)
        members = [self.universe[(k * self.stride + i) % n] for i in range(self.batch_size)]
        pop_keys: set = set()
        rows_by_year: dict[int, list] = {y: [] for y in POP_YEARS}
        for a2, a3, name in members:
            bad_year = int(rng.choice(POP_YEARS)) if rng.random() < 0.3 else None
            for y in POP_YEARS:
                if y == bad_year:
                    value = [None, "n/a", "-5", "0"][int(rng.integers(0, 4))]
                else:
                    value = str(self.pop[(a3, y)])
                    if rng.random() < 0.1:  # exponent form, still a valid number
                        value = f"{self.pop[(a3, y)] / 1e6:.6f}e6"
                    if y >= STAR_YEARS[0]:
                        pop_keys.add((a3, y))
                rows_by_year[y].append({
                    "countryiso3code": a3,
                    "country": {"id": a2, "value": _noisy_name(rng, name)},
                    "value": value,
                })
        for y in POP_YEARS:  # rows every filter must drop
            rows_by_year[y] += [
                {"countryiso3code": code, "country": {"id": code[:2], "value": name},
                 "value": "1000000"}
                for code, name in WB_AGGREGATES
            ] + [
                {"countryiso3code": "", "country": {"id": "XX", "value": "Nowhere"}, "value": "5"},
                {"countryiso3code": "XY", "country": {"id": "XY", "value": "Short"}, "value": "5"},
                {"countryiso3code": None, "country": {"id": None, "value": "Null"}, "value": "5"},
                {"countryiso3code": "QQQ", "country": None, "value": "5"},
                {"countryiso3code": "QQR", "country": {"id": "QR", "value": None}, "value": "5"},
            ]
        pages = {POP_URL.format(year=y): [{"page": 1}, rows] for y, rows in rows_by_year.items()}
        metadata = [
            {"id": a3, "name": name, "region": {"id": "ECS", "value": "Europe & Central Asia"}}
            for _, a3, name in members
        ] + [
            {"id": code, "name": name, "region": {"id": "NA", "value": "Aggregates"}}
            for code, name in WB_AGGREGATES
        ]
        pages[METADATA_URL] = [{"page": 1}, metadata]

        country_keys = {a3 for a3, _ in pop_keys}
        crime_keys: set = set()
        sheet = [["UN-CTS persons convicted"], ["generated"], CRIME_HEADER]
        for _, a3, name in members:
            if a3 not in country_keys:
                continue
            for y in STAR_YEARS:
                if rng.random() < 0.85:
                    # three decimals so half-up rounding ties occur
                    value = f"{rng.integers(0, 500_000) / 1000:.3f}"
                    sheet.append([a3, name, "Europe", y, *_CRIME_OK, value])
                    crime_keys.add((a3, y))
                else:
                    sheet.append([a3, name, "Europe", y, *_CRIME_OK, "n/a"])
                for junk in _CRIME_JUNK:
                    sheet.append([a3, name, "Europe", y, *junk, "12.5"])
                sheet.append([a3, name, "Asia", y, *_CRIME_OK, "7.25"])
                sheet.append([a3, name, "Europe", y, *_CRIME_OK, "-3.5"])
            sheet.append([a3, name, "Europe", 2016, *_CRIME_OK, "4.0"])
            sheet.append([a3[:2], name, "Europe", 2019, *_CRIME_OK, "4.0"])
        xlsx_path = os.path.join(self.out_dir, f"crime_batch{k}.xlsx")
        self.write_xlsx(sheet, xlsx_path)

        wb_rows = sum(len(p[1]) for p in pages.values())
        return StarBatch(
            pages=pages,
            xlsx_path=xlsx_path,
            raw_rows=wb_rows + len(sheet) - 3 + self.csv_rows,
            keys={
                "country": country_keys,
                "year": set(STAR_YEARS),
                "population": pop_keys,
                "crime": crime_keys,
                "immigration": self.feed_keys & pop_keys,
            },
        )
