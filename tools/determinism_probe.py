"""Determinism-under-partitioning probe.

The registry's float convention claims every query's values are
independent of partitioning (exact decimal / fixed-point integer
accumulation; floats only in final fixed-order scalar expressions).
This probe tests that claim directly: each query runs under different
``spark.sql.shuffle.partitions`` settings and the collected row
multisets must be BIT-IDENTICAL — any order-dependent float
accumulation shows up as a diff here before it shows up as a
once-in-N-runs oracle flake.

Usage: python tools/determinism_probe.py [sf_dir] [q1 q2 ...]
       python tools/determinism_probe.py [sf_dir] --auto-fp
Defaults: sf0.01, the queries with the most float/partition surface.
``--auto-fp`` probes the union of the curated list and every registered
query whose OUTPUT SCHEMA carries a float/double anywhere (top-level or
nested in array/map/struct) — mechanically discovered from the built
(lazy) DataFrames, so the coverage claim regenerates itself as queries
are added instead of rotting as a hand list. The 8 streaming e2e
queries are excluded (building them runs a real stream; their
determinism is covered by the replay-idempotence tests in
tests/test_streaming.py).
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Queries chosen for maximum partitioning surface: multi-stage float
# fixed-point chains, window moments, weighted self-joins, sketches
# with exact twins, iterative graph rounds, range-partitioned ranks.
DEFAULT = [
    "nation_price_qty_corr",
    "rolling_corr_nation_global",
    "tfidf_cosine_pairs",
    "doc_bigram_logprob",
    "nation_revenue_cusum",
    "ab_test_welch",
    "psi_price_drift",
    "bm25_topk",
    "global_rank_orders",
    "nation_trade_pagerank",
    "nation_trade_communities",
    "ks_chars_by_lang",
    "flagship_nation_year_rate",
    "dedup_minhash_lsh",
    "tfidf_cosine_pairs",
    "kaplan_meier_user_lifetime",
    "ab_test_cuped",
    "benford_order_totals",
    "trade_community_modularity",
    "pps_doc_sample",
    "spatial_grid_nn",
    "lineitem_corr_matrix",
    "bpe_encode_stats",
    "cohort_ltv_curve",
    "anova_order_value_by_segment",
    "region_revenue_quad_trend",
    "median_imputation_report",
    "feature_information_gain",
    "daily_revenue_acf",
    "event_gap_slo_report",
    "snm_part_name_pairs",
    "synthetic_sku_profile",
    # round 8: fused ranks and the two-stage ANN composite — integer
    # fixed-point end-to-end, but rank ties and probe pruning are the
    # partitioning surface worth probing
    "hybrid_rrf_topk",
    "ivfpq_topk",
    "semdedup_verdicts",
    "scattergeo_trace_specs",
    # round 8 late additions: doubled-rank statistics (rank windows +
    # sqrt/division scalar tails), the sparse MaxSim join, and the
    # in-row CDC chunker feeding a two-level aggregation
    "spearman_price_qty_by_nation",
    "mannwhitney_value_by_event_type",
    "maxsim_late_interaction_topk",
    "cdc_chunk_dedup_histogram",
    "wilcoxon_signed_rank_purchase_vs_view",
    "ivf_nprobe_recall_sweep",
    "corpus_build_v3_e2e",
    "lsh_band_sweep",
    "jaccard_threshold_sweep",
    # round 9: the retrieval-eval harness ranks by float cosine inside
    # (all-BIGINT output, so --auto-fp misses it — the rank order IS
    # the partitioning surface); the DP release is integer-only but
    # rides the same window/groupBy machinery, cheap to pin
    "retrieval_ranking_metrics",
    "dp_nation_order_stats",
    # round 9 additions with a genuine partitioning surface: the AUC
    # cumulative window over the distinct-score aggregate, the MASE
    # lag-join + broadcast-cutoff chain, the Theil-Sen rank window
    # with tied slopes, the LSH probe's first-shared-band emission,
    # and the dHash cluster aggregate (all-BIGINT, so --auto-fp
    # misses them; rank/emission order is the surface)
    "roc_auc_length_vs_dup",
    "forecast_backtest_mase",
    "theil_sen_region_trend",
    "incremental_dedup_assign",
    "image_dhash_clusters",
]

PARTITION_SETTINGS = ["3", "32"]

STREAMING_SKIP = frozenset({
    "streaming_batch_parity_e2e", "streaming_dedup_e2e",
    "streaming_stateful_totals_e2e", "streaming_attribution_e2e",
    "streaming_lsh_dedup_e2e", "streaming_enrich_e2e",
    "streaming_curate_e2e", "streaming_rest_poll_e2e",
    "streaming_sessionize_e2e",
})


def _has_fp(dt) -> bool:
    from pyspark.sql import types as T

    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return True
    if isinstance(dt, T.ArrayType):
        return _has_fp(dt.elementType)
    if isinstance(dt, T.MapType):
        return _has_fp(dt.keyType) or _has_fp(dt.valueType)
    if isinstance(dt, T.StructType):
        return any(_has_fp(f.dataType) for f in dt.fields)
    return False


def fp_surface_names(spark, qs, sf_dir) -> list[str]:
    """Every registered query with a float/double in its output schema.

    Builds each DataFrame lazily (no execution) and walks the schema;
    queries whose oracle hash touches float-derived bytes are exactly
    the ones where order-dependent accumulation could flake.
    """
    names = []
    for name in sorted(qs):
        if name in STREAMING_SKIP:
            continue
        if _has_fp(qs[name](spark, sf_dir).schema):
            names.append(name)
    return names


def canon(rows) -> list[tuple]:
    out = []
    for r in rows:
        vals = []
        for v in r:
            # floats compared bit-exactly via repr; NaN normalized
            if isinstance(v, float) and v != v:
                v = "NaN"
            vals.append(v)
        out.append(tuple(vals))
    key = lambda t: tuple((v is None, str(v)) for v in t)
    return sorted(out, key=key)


def main() -> None:
    import os

    from data_integration_and_visualization_uc3m_spark.session import get_spark
    import __spark_entry__ as E

    sf_dir = "/root/testdata/sf0.01"
    args = sys.argv[1:]
    if args and "/" in args[0]:
        sf_dir, args = args[0], args[1:]
    auto_fp = "--auto-fp" in args
    args = [a for a in args if a != "--auto-fp"]
    names = args or DEFAULT

    spark = get_spark("determinism")
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    if auto_fp:
        fp = fp_surface_names(spark, qs, sf_dir)
        merged = list(dict.fromkeys(list(names) + fp))
        print(f"auto-fp: {len(fp)} fp-surface queries discovered; "
              f"probing {len(merged)} total "
              f"({len(merged) - len(set(names))} beyond the curated list)")
        names = merged
    failures = []
    for name in names:
        results = []
        for parts in PARTITION_SETTINGS:
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            results.append(canon(qs[name](spark, sf_dir).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        if results[0] != results[1]:
            ndiff = sum(1 for a, b in zip(results[0], results[1]) if a != b)
            ndiff += abs(len(results[0]) - len(results[1]))
            failures.append(name)
            print(f"DIFF {name}: {ndiff} rows differ across "
                  f"shuffle.partitions {PARTITION_SETTINGS}")
        else:
            print(f". {name} ({len(results[0])} rows bit-identical)")
    if failures:
        print(f"\n{len(failures)} PARTITION-DEPENDENT: {failures}")
        sys.exit(1)
    print(f"\nall {len(names)} queries partition-independent @ {sf_dir}")


if __name__ == "__main__":
    main()
