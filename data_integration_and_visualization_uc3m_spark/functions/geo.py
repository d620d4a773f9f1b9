"""Country map positions — the reference's ``countries.txt`` analog.

``map-making/create-points.py:1`` "read[s] the position of each country
in the map" from a file; ``create-maps.py`` reads lon/lat columns from
``data.csv``. The testdata's nation dim carries synthetic names
(``NATION_0``..``NATION_24`` keyed 0-24, the classic TPC-H nation-key
order), so this module carries the positions relation as static public
data: each nation key mapped to the real country at that TPC-H key
(ALGERIA=0 … VIETNAM=24) with its ISO 3166-1 alpha-3 code and an
approximate geographic centroid (degrees, public knowledge).

Like functions/iso3166.py, both the Spark relation and the DuckDB
VALUES twin derive from ONE constant, so oracle parity is by
construction. Broadcast-sized (25 rows) — joins against it never
shuffle the fact side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..sources.readers import local_frame

# (nationkey, iso3, lon, lat) — TPC-H nation-key order; approximate
# country centroids in decimal degrees.
NATION_POSITIONS: tuple[tuple[int, str, float, float], ...] = (
    (0, "DZA", 3.0, 28.0),     # ALGERIA
    (1, "ARG", -64.0, -34.0),  # ARGENTINA
    (2, "BRA", -53.0, -10.0),  # BRAZIL
    (3, "CAN", -106.0, 56.0),  # CANADA
    (4, "EGY", 30.0, 26.0),    # EGYPT
    (5, "ETH", 40.0, 9.0),     # ETHIOPIA
    (6, "FRA", 2.0, 46.0),     # FRANCE
    (7, "DEU", 10.0, 51.0),    # GERMANY
    (8, "IND", 79.0, 22.0),    # INDIA
    (9, "IDN", 118.0, -2.0),   # INDONESIA
    (10, "IRN", 53.0, 32.0),   # IRAN
    (11, "IRQ", 44.0, 33.0),   # IRAQ
    (12, "JPN", 138.0, 36.0),  # JAPAN
    (13, "JOR", 36.0, 31.0),   # JORDAN
    (14, "KEN", 38.0, 0.0),    # KENYA
    (15, "MAR", -6.0, 32.0),   # MOROCCO
    (16, "MOZ", 35.0, -18.0),  # MOZAMBIQUE
    (17, "PER", -76.0, -10.0), # PERU
    (18, "CHN", 104.0, 35.0),  # CHINA
    (19, "ROU", 25.0, 46.0),   # ROMANIA
    (20, "SAU", 45.0, 24.0),   # SAUDI ARABIA
    (21, "VNM", 106.0, 16.0),  # VIETNAM
    (22, "RUS", 100.0, 60.0),  # RUSSIA
    (23, "GBR", -2.0, 54.0),   # UNITED KINGDOM
    (24, "USA", -98.0, 39.0),  # UNITED STATES
)


def positions_relation(spark: SparkSession) -> DataFrame:
    """Broadcast-sized ``(nationkey, iso3, lon, lat)`` relation."""
    schema = T.StructType([
        T.StructField("nationkey", T.LongType()),
        T.StructField("iso3", T.StringType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
    ])
    return local_frame(
        spark, [dict(zip(schema.names, r)) for r in NATION_POSITIONS], schema
    )


def positions_values_sql() -> str:
    """The SAME rows as a DuckDB VALUES list for oracle twins."""
    rows = ", ".join(
        f"(CAST({k} AS BIGINT), '{i}', CAST({lon} AS DOUBLE),"
        f" CAST({lat} AS DOUBLE))"
        for k, i, lon, lat in NATION_POSITIONS
    )
    return f"(VALUES {rows}) AS pos(nationkey, iso3, lon, lat)"
