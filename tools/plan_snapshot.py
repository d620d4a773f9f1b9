"""Write PLANS.md: formatted physical plans for the headline queries.

tools/plan_audit.py CHECKS invariants (pushdown, broadcast, no
cartesian); this tool RECORDS the evidence — the `explain formatted`
output for the BASELINE.md 20-query series plus the heaviest round
queries — so plan shape review doesn't require running the engine.
Regenerate after plan-affecting changes: python tools/plan_snapshot.py
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

HEADLINE = [
    "pricing_summary", "flagship_nation_year_rate", "validated_m2o_join",
    "region_revenue", "shipping_priority", "small_quantity_orders",
    "rollup_region_nation", "keyed_dedup_first_wins",
    "deterministic_slice", "events_hourly", "sessionize_events",
    "upsert_conflict_ignore", "dedup_exact_docs", "dedup_ngram_jaccard",
    "dedup_minhash_lsh", "simhash_signatures", "token_count_profile",
    "doc_quality_score", "lang_id_predict", "embedding_cosine_topk",
    # heaviest + round-8 scale-shape representatives
    "verbatim_window_pairs", "bucketed_colocated_revenue",
    "salted_event_totals", "partitioned_warehouse_prune",
    "url_canonical_dedup", "maxsim_late_interaction_topk",
    # round-10 scale-shape representatives: single-pass IVF sweep
    # (shared centroid agg + block-rank explode), degree-capped
    # bipartite link prediction
    "ivf_nprobe_recall_sweep", "supplier_adamic_adar_links",
    # round-11 scale-shape representatives: prefix-filtered
    # set-similarity join (local array_sort, no global rank),
    # multi-pass blocked linkage with the block-volume cap below the
    # join, one-pass 32-replica Poisson bootstrap
    "ppjoin_word_set_pairs", "fs_linkage_score_histogram",
    "hash_bootstrap_revenue_ci",
    # round-14 scale-shape representatives: bounded adaptive-LSH cells
    # (the scale-safe twins) and frozen-cell incremental maintenance
    "semdedup_verdicts_scaled", "dedup_embedding_cosine_srp",
    "ppjoin_rare_shingle_pairs", "knn_graph_delta_merge",
    "knn_graph_delta_delete", "ann_dpp_pruned_topk",
    "compaction_bin_plan",
    # round-15 re-planned representatives: single-pass repetition
    # stats, respread permutation relation, fanned-out retrieval eval
    "doc_repetition_stats", "permutation_test_nation_revenue",
    "retrieval_ranking_metrics",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from pyspark.sql import SparkSession

    from data_integration_and_visualization_uc3m_spark import queries as Q
    from data_integration_and_visualization_uc3m_spark.session import tune

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "32")
        .appName("plan_snapshot")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    tune(spark)
    out = [
        "# Physical plans (generated by tools/plan_snapshot.py — do not edit)",
        "",
        f"SF dir: `{sf_dir}`; AQE on, so runtime re-planning "
        "(coalesce/skew-join) applies on top of these initial plans.",
        "",
    ]
    for name in HEADLINE:
        if name not in Q.REGISTRY:
            continue
        df = Q.REGISTRY[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out.append(f"## {name}\n\n```\n{plan.rstrip()}\n```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written: {len(HEADLINE)} plans @ {sf_dir}")


if __name__ == "__main__":
    main()
