"""Registry core: Query dataclass, REGISTRY, @register, shared helpers.

Part of the mechanical split of the former single-module queries.py
(VERDICT r10 ask #8). The oracle-determinism conventions live in the
package docstring (queries/__init__.py). Parts chain-import with
``from ._pNN import *`` + a cumulative ``__all__`` so the namespace
each query sees is identical to the original single module, and
registration order (= import order) is preserved exactly.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import (
    cdc,
    cleaning,
    corpus_stats,
    dedup,
    filters,
    graph,
    joins,
    linalg,
    linkage,
    mixing,
    multimodal,
    packing,
    sampling,
    similarity,
    sketches,
    skew,
    slicing,
    text,
    timeseries,
    upsert,
    validate,
    web,
    zorder,
)
from ..functions import geo, iso3166
from ..operators._overlap import overlap
from ..scratch import scratch_dir
from ..sources.readers import load_table, local_frame, synthetic_dim as readers_synthetic_dim
from ..session import tune

DEC2 = "decimal(18,2)"
DEC6 = "decimal(18,6)"
DEC38 = "decimal(38,0)"


def _dec2(col: str) -> F.Column:
    return F.col(col).cast(DEC2)


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    ops: list[str] = field(default_factory=list)


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None, ops: list[str]):
    def deco(fn):
        REGISTRY[name] = Query(name, fn, oracle, ops)
        return fn

    return deco


def _t(
    spark: SparkSession, sf_dir: str, name: str, fanout: bool = False
) -> DataFrame:
    """Load a testdata table. ``fanout=True`` marks scans that feed
    explode-heavy pipelines (shingles/tokens/chunks) and re-spreads a
    small single-file scan across cores; default scans stay as-read
    (the unconditional re-spread taxed trivial queries ~0.3-0.5 s each
    in round 2 — see sources/readers.py bounds rationale)."""
    tune(spark)  # pin TZ/AQE even on driver-provided sessions
    return load_table(spark, sf_dir, name, respread=fanout)


def _codebook_cte(k: int, dim: int = 64, table: str = "embeddings") -> str:
    """Oracle twin of similarity.train_codebook(k): seed from the k
    lowest-id vectors (rank-as-c), assign every vector to its nearest
    seed by nano fixed-point L2 (ties → smaller c), then recompute
    each centroid as the exact integer mean of its members' nano-
    quantized components, falling back to the (quantized) seed for an
    empty cell. Yields ``cb(c, centroid)`` with bit-identical DOUBLE
    components on both engines.

    ``dim``/``table`` default to the 64-dim ``embeddings`` testdata
    table; pass them explicitly when reusing against another relation
    (similarity.train_codebook is table/dim-generic on the Spark side).
    Defined here, ABOVE every @register use — decorator f-strings
    evaluate at import, so a forward reference is an ImportError
    (round-7 postmortem)."""
    return f"""cb_init AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS c,
               embedding AS cv
        FROM (SELECT vec_id, embedding FROM {table}
              ORDER BY vec_id LIMIT {k})
    ), cb_assign AS (
        SELECT vec_id, c FROM (
            SELECT e.vec_id, i.c,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY CAST(FLOOR(list_sum(list_transform(
                                    list_zip(e.embedding, i.cv),
                                    p -> (CAST(p[1] AS DOUBLE)
                                          - CAST(p[2] AS DOUBLE))
                                         * (CAST(p[1] AS DOUBLE)
                                            - CAST(p[2] AS DOUBLE))))
                                    * 1000000000) AS BIGINT), i.c) AS rn
            FROM {table} e CROSS JOIN cb_init i) WHERE rn = 1
    ), cb_sums AS (
        SELECT a.c, g.i AS dim,
               SUM(CAST(FLOOR(CAST(e.embedding[g.i + 1] AS DOUBLE)
                              * 1000000000) AS BIGINT)) AS s,
               COUNT(*) AS n
        FROM cb_assign a JOIN {table} e USING (vec_id)
        CROSS JOIN generate_series(0, {dim - 1}) g(i)
        GROUP BY a.c, g.i
    ), cb_comp AS (
        SELECT i.c, g.i AS dim,
               COALESCE(CAST(s.s AS DOUBLE) / s.n / 1000000000,
                        CAST(CAST(FLOOR(CAST(i.cv[g.i + 1] AS DOUBLE)
                                        * 1000000000) AS BIGINT) AS DOUBLE)
                        / 1000000000) AS comp
        FROM cb_init i CROSS JOIN generate_series(0, {dim - 1}) g(i)
        LEFT JOIN cb_sums s ON s.c = i.c AND s.dim = g.i
    ), cb AS (
        SELECT c, list(comp ORDER BY dim) AS centroid
        FROM cb_comp GROUP BY c
    )"""


__all__ = [n for n in globals() if not n.startswith("__")]
