"""Systematic no-CSE (repeated-subtree) audit over every query plan.

The engine's most-recurring perf defect class (five occurrences:
ivf_nprobe_recall_sweep r10, three r11 bench regressions,
contrastive_pairs_dataset r12) is Spark doing NO common-subexpression
elimination across union/crossJoin/anti-join branches — a relation
referenced twice re-derives its whole subtree, silently doubling the
fact-table scans. Each instance so far was found by hand from a bench
regression; this tool sweeps all plans at once.

Method: count, per query, how many times each testdata table file
appears as a parquet scan in the final physical plan. Self-joins
legitimately scan a table twice (pair generation, a/b arms), so the
flag threshold is >= 3 scans of the SAME table — the signature of a
shared subtree re-derived under a third consumer. Flagged queries are
candidates, not verdicts: some are deliberate (recall reports that
compare three independent arms by design). Adjudicated exemptions are
listed with reasons.

Usage: python tools/rescan_audit.py [sf_dir]   (writes RESCAN_AUDIT.json)
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

OUT = os.path.join(ROOT, "RESCAN_AUDIT.json")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Adjudicated >=3-scan queries (read this session, r12): the repeats
# are DELIBERATE independent arms, not a re-derived shared subtree.
EXEMPT: dict[str, str] = {
    # recall/sweep reports: each arm (exact, quantized, per-parameter)
    # is a DIFFERENT derivation of the corpus by design — comparing
    # them is the query's purpose, and no shared normalized relation
    # exists to stage.
    "ivf_nprobe_recall_sweep": "per-nprobe arms share the staged "
    "centroid/assignment relations (localCheckpoint, r10 fix); the "
    "remaining scans are the exact-truth arm vs probe arms, different "
    "derivations by design",
    "cms_width_error_sweep": "per-width sketch arms are independent "
    "derivations; each scans once and the exact baseline once",
    "lsh_band_sweep": "per-(bands,rows) arms are independent "
    "derivations of the signature relation",
    "jaccard_threshold_sweep": "per-threshold arms reuse one staged "
    "pair relation; scans are the arm axis",
    "packing_length_sweep": "per-budget packing arms are independent",
    "int8_recall_report": "exact-double arm vs int8 arm compare "
    "different physical encodings of the corpus — no shared subtree",
    "ivf_recall_report": "truth arm vs IVF arm, different derivations",
    "pq_recall_report": "truth arm vs PQ arm",
    "lsh_recall_report": "truth arm vs LSH arm",
    "retrieval_ranking_metrics": "truth and scored arms derive "
    "different relations (adjudicated r11 — double vectors + ddot "
    "norms vs int8 codes + integer norms)",
    # Codebook family — staging the collapsed codebook MEASURED SLOWER
    # both ways at sf0.1 (BASELINE.md r12 'Codebook staging: a
    # measured negative'); the re-derived subtree is TakeOrdered(k) +
    # one aggregation, cheap next to the corpus-sized assignment pass.
    "semdedup_verdicts": "codebook re-derivation, measured negative",
    "ivfpq_topk": "coarse+PQ codebook re-derivation, measured negative",
    "pq_adc_topk": "PQ codebook re-derivation, measured negative",
    "pq_codes_embeddings": "PQ codebook re-derivation, measured negative",
    "ivf_topk": "coarse codebook re-derivation, measured negative",
    "ivf_incremental_assign": "codebook re-derivation, measured negative",
    # Near-dup pair generators: the repeated document scans are the
    # (a, b) arms of pair self-joins plus 1-row df-cap broadcasts;
    # staging the shingle/window fan-out would materialize an
    # intermediate LARGER than the corpus (round-1 measured rule:
    # persist lost 30% on single-pass shingle queries — recompute
    # beats cache for explode fan-outs).
    "dedup_minhash_lsh": "pair-arm scans; shingle fan-out > corpus",
    "dedup_ngram_jaccard": "pair-arm scans; shingle fan-out > corpus",
    "dedup_jaccard_df_capped": "pair arms + 1-row df-cap broadcast",
    "containment_pairs": "pair-arm scans; shingle fan-out > corpus",
    "verbatim_window_pairs": "pair arms + df-cap; window fan-out > corpus",
    "tfidf_cosine_pairs": "pair arms + df-cap + idf relation",
    "ppjoin_word_set_pairs": "prefix (a,b) arms + verify token arms",
    "ppjoin_rare_shingle_pairs": "same operator as ppjoin_word_set_pairs"
    " (dedup.ppjoin_pairs): prefix (a,b) arms + verify token arms over"
    " the 5-gram relation; scan count identical to the pinned form's"
    " adjudicated 6",
    "cross_source_ngram_overlap": "per-source-pair arms by design",
    "split_leakage_audit": "pair arms + split assignment by design",
    "snm_part_name_pairs": "sorted-neighborhood (a,b) arms",
    "user_cooccurrence_pairs": "co-visit (a,b) arms",
    "incremental_dedup_assign": "old-index vs new-batch arms by design",
    "fs_linkage_score_histogram": "two blocking passes x pair arms "
    "by design (r10 ask #3 multi-pass blocking)",
    # Fold/split/version arms: each scan carries a DIFFERENT pushed
    # filter (year page, split half, snapshot version, period, fold) —
    # partition pruning makes N filtered scans the intended plan.
    "union_fold_by_year": "per-year filtered pages by design (A4)",
    "set_ops_customers": "set-operation arms by design",
    "funnel_view_click_purchase": "per-stage filtered scans by design",
    "distinct_rollup_hierarchy": "per-level arms by design",
    "stl_daily_revenue": "trend/seasonal/residual arms by design",
    "forecast_backtest_mase": "per-fold cutoff filters by design",
    "scd2_price_history": "per-version snapshot filters by design",
    "scd2_point_in_time_join": "per-version snapshot filters by design",
    "psi_price_drift": "two period filters x bucket/total arms",
    "conformal_coverage_report": "train/calib/test hash-split arms",
    "perplexity_buckets": "tercile-bound 1-row + bucket arms",
    "dsir_selection_report": "target/proposal distribution arms",
    "source_term_kl": "p/q distribution + support-mass arms",
    "corpus_bigram_lift": "unigram + bigram relations by design",
    "corpus_build_e2e": "full pipeline composes mix+dedup+quality arms",
    # Multi-aggregate-over-one-pruned-scan: several independent
    # aggregations of the SAME narrow column-pruned scan (each reduces
    # immediately; the plan is scan-bound either way, and staging
    # would materialize a corpus-sized projection instead).
    "t_closeness_report": "5 aggregations over one 2-column scan",
    "kaplan_meier_user_lifetime": "risk-set/horizon aggs over one scan",
    "nelson_aalen_hazard": "risk-set/event aggs over one scan",
    "events_anomaly_mad": "median/MAD/score passes over one scan",
    "rolling_distinct_users": "per-window distinct arms over one scan",
    "user_feature_store": "feature aggs + recency anchor over one scan",
    "quantile_treatment_effect": "count/histogram/select-rank passes "
    "over one filtered 3-column scan (two-phase nearest-rank design)",
    "heaps_law_fit": "per_doc + vocab derive the token explode twice; "
    "staging the fan-out materializes more than the corpus",
    "upsert_conflict_ignore": "target/source/anti arms by design (K2)",
    "upsert_replace_orders": "target/source/replace arms by design",
    "incremental_agg_maintenance": "base/delta/merged views by design",
    "incremental_join_maintenance": "base/delta views by design",
    "supplier_adamic_adar_links": "capped-degree arms pinned to "
    "SHUFFLE_HASH by the r11 tuning; the cap relation is below the "
    "pair join by design (plan_audit cap rule)",
    "dominant_part_suppliers": "share numerator/denominator arms over "
    "one pruned scan",
    "feature_information_gain": "per-feature conditional-entropy arms "
    "by design",
    "ab_test_cuped": "pre/post-period covariate arms by design",
    "dr_policy_value_report": "half-split q-model vs eval arms by design",
    "approx_sketches": "exact vs sketch twin arms by design",
    "balanced_lang_mix": "per-stratum min + sample arms over one scan",
    "basket_part_lift": "basket/pair/total arms over one scan",
    "bm25_topk": "df + tf + corpus-stats aggs over one scan",
    "corpus_build_v4_e2e": "pipeline composes mix+dedup+quality arms",
    "corpus_mix_apply": "plan + apply arms by design",
    "corpus_release_readiness": "readiness checks are independent aggs",
    "doc_bigram_logprob": "unigram + bigram LM relations by design",
    "embedding_gram_power": "Gram + Rayleigh arms over one scan",
    "heavy_hitters_cms": "sketch vs exact twin arms by design",
    "hybrid_rrf_topk": "BM25 arm + embedding arm fused by design",
    "important_parts_share": "numerator/denominator arms over one scan",
    "lang_source_chisq_cells": "cell/margin/total aggs over one scan",
    "naive_bayes_langid_report": "train-half vs eval-half arms by design",
    "pps_doc_sample": "weight-total + stride-pick arms over one scan",
    "strip_boilerplate_tokens": "stoplist + corpus-count + rewrite arms",
    "tfidf_top_terms": "df + tf + corpus-count aggs over one scan",
    "two_stage_rerank_topk": "stage-1 corpus quantization scan + "
    "1-row int8-query, 1-row float-query, and 20-row rerank-join "
    "scans (all pushed-filter bounded) by design",
}


# Adjudicated ceiling per exemption (ADVICE r12): the scan count
# observed when the exemption was granted. An exempted query whose
# plan later grows PAST its adjudicated count (a new re-derived
# subtree) is re-flagged instead of silently suppressed. Update a
# ceiling only together with a fresh adjudication note in EXEMPT.
EXEMPT_MAX: dict[str, int] = {
    "two_stage_rerank_topk": 4,
    "ab_test_cuped": 3,
    "approx_sketches": 3,
    "balanced_lang_mix": 3,
    "basket_part_lift": 4,
    "bm25_topk": 4,
    "cms_width_error_sweep": 9,
    "conformal_coverage_report": 8,
    "containment_pairs": 3,
    "corpus_bigram_lift": 5,
    "corpus_build_e2e": 6,
    "corpus_build_v4_e2e": 3,
    "corpus_mix_apply": 3,
    "corpus_release_readiness": 4,
    "cross_source_ngram_overlap": 8,
    "dedup_jaccard_df_capped": 6,
    "dedup_minhash_lsh": 6,
    "dedup_ngram_jaccard": 3,
    "distinct_rollup_hierarchy": 6,
    "doc_bigram_logprob": 3,
    "dominant_part_suppliers": 3,
    "dr_policy_value_report": 3,
    "dsir_selection_report": 7,
    "embedding_gram_power": 4,
    "events_anomaly_mad": 4,
    "feature_information_gain": 5,
    "forecast_backtest_mase": 6,
    "fs_linkage_score_histogram": 9,
    "funnel_view_click_purchase": 6,
    "heaps_law_fit": 4,
    "heavy_hitters_cms": 3,
    "hybrid_rrf_topk": 4,
    "important_parts_share": 3,
    "incremental_agg_maintenance": 5,
    "incremental_dedup_assign": 9,
    "incremental_join_maintenance": 4,
    "int8_recall_report": 4,
    "ivf_incremental_assign": 9,
    "ivf_nprobe_recall_sweep": 10,
    "ivf_recall_report": 10,
    "ivf_topk": 4,
    "ivfpq_topk": 11,
    "jaccard_threshold_sweep": 0,
    "kaplan_meier_user_lifetime": 4,
    "lang_source_chisq_cells": 4,
    "lsh_band_sweep": 0,
    "lsh_recall_report": 0,
    "naive_bayes_langid_report": 4,
    "nelson_aalen_hazard": 4,
    "packing_length_sweep": 1,
    "perplexity_buckets": 7,
    "ppjoin_word_set_pairs": 6,
    "ppjoin_rare_shingle_pairs": 6,
    "pps_doc_sample": 4,
    "pq_adc_topk": 8,
    "pq_codes_embeddings": 4,
    "pq_recall_report": 10,
    "psi_price_drift": 8,
    "quantile_treatment_effect": 3,
    "retrieval_ranking_metrics": 4,
    "rolling_distinct_users": 4,
    "scd2_point_in_time_join": 8,
    "scd2_price_history": 8,
    "semdedup_verdicts": 12,
    "set_ops_customers": 6,
    "snm_part_name_pairs": 4,
    "source_term_kl": 8,
    "split_leakage_audit": 5,
    "stl_daily_revenue": 6,
    "strip_boilerplate_tokens": 3,
    "supplier_adamic_adar_links": 3,
    "t_closeness_report": 5,
    "tfidf_cosine_pairs": 12,
    "tfidf_top_terms": 3,
    "union_fold_by_year": 7,
    "upsert_conflict_ignore": 3,
    "upsert_replace_orders": 3,
    "user_cooccurrence_pairs": 4,
    "user_feature_store": 3,
    "verbatim_window_pairs": 9,
}


def main() -> None:
    from data_integration_and_visualization_uc3m_spark.session import get_spark
    import __spark_entry__ as E

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark("rescan-audit")
    report: dict[str, dict] = {}
    flags: list[str] = []
    for name, fn in E.queries().items():
        buf = io.StringIO()
        try:
            df = fn(spark, sf_dir)
            with redirect_stdout(buf):
                df.explain(mode="formatted")
        except Exception as ex:  # noqa: BLE001
            report[name] = {"error": str(ex)[:200]}
            continue
        plan = buf.getvalue()
        counts: dict[str, int] = {}
        # formatted mode prints each physical scan once in the tree AND
        # once in the numbered details section — count only the detail
        # blocks ("(N) Scan parquet" ... "Location: ... <table>.parquet")
        # so each physical scan node counts exactly once.
        for block in re.split(r"\(\d+\) Scan parquet", plan)[1:]:
            head = block[:400]
            for t in TABLES:
                if re.search(rf"{t}\.parquet", head):
                    counts[t] = counts.get(t, 0) + 1
                    break
        worst = max(counts.values(), default=0)
        # A persist()ed shared relation executes its subtree ONCE and
        # serves later references from the cache, but `explain` prints
        # the full child plan under every InMemoryRelation reference —
        # plan-text scan counts overstate executed scans for cached
        # queries. Record the cache signal and only flag cache-free
        # plans; cached plans with high textual counts are listed
        # separately for eyeballing (the cache could still miss).
        cached = bool(re.search(
            r"InMemoryTableScan|InMemoryRelation|TableCacheQueryStage",
            plan,
        ))
        report[name] = {
            "scans": counts,
            "max_same_table": worst,
            "uses_cache": cached,
        }
        if worst >= 3 and not cached:
            if name not in EXEMPT:
                flags.append(name)
            elif worst > EXEMPT_MAX.get(name, worst):
                flags.append(
                    f"{name} (grew past adjudicated max "
                    f"{EXEMPT_MAX[name]} -> {worst})"
                )
    meta = {
        "sf_dir": sf_dir,
        "n_queries": len(report),
        "threshold": ">=3 scans of the same table (2 = legit self-join)",
        "flagged": sorted(flags),
        "exempt": EXEMPT,
    }
    out = dict(sorted(report.items()))
    out["_meta"] = meta
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"rescan audit over {len(report)} plans @ {sf_dir}")
    if flags:
        print("FLAGGED (>=3 same-table scans, unadjudicated):")
        for n in sorted(flags):
            print(f"  {n}: {report[n]['scans']}")
    else:
        print("no unadjudicated multi-rescan plans")


if __name__ == "__main__":
    main()
